-- subquery_exists.q NOT EXISTS variant: orders with no high-quantity line.
SELECT o.o_orderkey, o.o_orderstatus
FROM orders o
WHERE NOT EXISTS
  (SELECT 1 FROM lineitem l
   WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 30)
  AND o.o_orderkey <= 3000
