-- Ported from order_within_subquery shapes: inner ORDER BY + LIMIT is
-- semantically load-bearing (top-k), outer query reorders freely.
SELECT k, CAST(k % 4 AS BIGINT) AS bucket
FROM (
  SELECT o_orderkey AS k FROM orders
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 25
) top25
