-- Ported from the nested-aggregation shape in
-- clientpositive/nested_gby? (groupby of groupby): the max/avg of
-- per-group sums.
SELECT ROUND(MAX(total), 2) AS max_total,
       ROUND(AVG(total), 2) AS avg_total,
       CAST(COUNT(*) AS BIGINT) AS groups
FROM (SELECT o_custkey, SUM(o_totalprice) AS total
      FROM orders GROUP BY o_custkey) t
