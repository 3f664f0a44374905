-- Ported from clientpositive/cbo_gby_empty.q shape: empty group-by
-- (global agg) branches tagged with constant keys, unioned, then
-- re-aggregated by the tag.
SELECT unionsrc.tag, CAST(COUNT(1) AS BIGINT) AS n, ROUND(MAX(unionsrc.v), 2) AS v
FROM (
  SELECT 'max' AS tag, MAX(o_totalprice) AS v FROM orders
  UNION ALL
  SELECT 'min' AS tag, MIN(o_totalprice) AS v FROM orders
  UNION ALL
  SELECT 'avg' AS tag, AVG(o_totalprice) AS v FROM orders
) unionsrc
GROUP BY unionsrc.tag
ORDER BY unionsrc.tag
