-- Ported from clientpositive/order2.q: ORDER BY an expression computed
-- in a derived table with LIMIT on the outer query.
SELECT k, v FROM (
  SELECT o_orderkey + 1 AS k, o_totalprice * 2 AS v FROM orders
) t ORDER BY k LIMIT 10
