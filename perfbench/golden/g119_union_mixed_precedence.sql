-- Ported from union_paren.q / union3.q: mixed UNION (distinct) and
-- UNION ALL branches — left-associative precedence must agree, so the
-- distinct applies to the first two branches only.
SELECT k, COUNT(*) AS n
FROM (
  SELECT n_nationkey AS k FROM nation
  UNION
  SELECT r_regionkey AS k FROM region
  UNION ALL
  SELECT s_nationkey AS k FROM supplier WHERE s_suppkey <= 10
) u
GROUP BY k
