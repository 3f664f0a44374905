-- Ported from intersect_distinct.q chained: INTERSECT across three
-- derived key sets — customers active in open orders, finished orders,
-- and high-value orders.
SELECT COUNT(*) AS n FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_totalprice > 150000
) t
