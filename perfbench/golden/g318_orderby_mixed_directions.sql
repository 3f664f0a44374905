-- Ported from clientpositive/order.q multi-key shape: mixed ASC/DESC
-- with an expression key.
SELECT o_orderstatus, o_orderpriority, o_orderkey
FROM orders WHERE o_orderkey <= 100
ORDER BY o_orderstatus ASC, o_orderpriority DESC, o_orderkey % 7 ASC, o_orderkey
