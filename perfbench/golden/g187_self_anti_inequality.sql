-- Ported from the "latest per key" anti-join idiom: orders with no
-- LATER order from the same customer (NOT EXISTS + inequality) — each
-- customer's final order.
SELECT o_orderstatus, COUNT(*) AS n_last_orders
FROM orders a
WHERE NOT EXISTS (
  SELECT 1 FROM orders b
  WHERE b.o_custkey = a.o_custkey
    AND (b.o_orderdate > a.o_orderdate
         OR (b.o_orderdate = a.o_orderdate AND b.o_orderkey > a.o_orderkey))
)
GROUP BY o_orderstatus
