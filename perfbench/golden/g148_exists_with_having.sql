-- Ported from subquery_exists_having.q variant: correlated EXISTS whose
-- inner query is itself an aggregate with HAVING — only customers with
-- at least 3 open orders qualify.
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT o_custkey FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
  GROUP BY o_custkey
  HAVING COUNT(*) >= 3
)
