-- Ported from cbo_union.q: tagged UNION ALL branches inside a derived
-- table, re-aggregated on the tag (the classic map-side union shape).
SELECT src, COUNT(*) AS n, COUNT(DISTINCT k) AS dk
FROM (
  SELECT 'open' AS src, o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
  UNION ALL
  SELECT 'done' AS src, o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
) u
GROUP BY src
