-- Ported from interval_arithmetic.q applied to a join: lineitems
-- shipped within 30 days of their order date — DATE + INTERVAL
-- comparison across two tables.
SELECT o_orderpriority,
       COUNT(*) AS n_fast
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate <= o_orderdate + INTERVAL 30 DAY
GROUP BY o_orderpriority
