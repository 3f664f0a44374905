-- Disjunction of two EXISTS subqueries (each independently correlated).
SELECT CAST(COUNT(*) AS BIGINT) AS n
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
   OR EXISTS (SELECT 1 FROM orders o2
              WHERE o2.o_custkey = c.c_custkey AND o2.o_orderpriority = '1-URGENT')
