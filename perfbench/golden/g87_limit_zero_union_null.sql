-- Ported from cbo_limit.q / union_null.q: LIMIT 0 produces an empty
-- branch; a typed NULL literal branch must widen with the other side.
SELECT x FROM (
  SELECT CAST(NULL AS BIGINT) AS x
  UNION ALL
  SELECT o_orderkey FROM orders WHERE o_orderkey <= 10
  UNION ALL
  SELECT o_orderkey FROM (SELECT o_orderkey FROM orders LIMIT 0) z
) u
