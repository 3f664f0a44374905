-- ppd_gby.q: outer predicate over a grouped subquery — pushable part
-- (on the group key) sinks below the aggregate, HAVING-like part stays
SELECT grp, n FROM (
  SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(o_totalprice), 2) AS s
  FROM orders GROUP BY o_orderpriority
) t
WHERE grp > '2' AND n > 5 AND s > 1000.0
