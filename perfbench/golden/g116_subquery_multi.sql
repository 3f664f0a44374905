-- Ported from subquery_multi.q: correlated EXISTS and uncorrelated
-- NOT IN combined in one WHERE — two different subquery rewrites
-- (left-semi + null-aware anti) in a single plan.
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
  AND c_nationkey NOT IN (SELECT n_nationkey FROM nation
                          WHERE n_name LIKE 'A%')
