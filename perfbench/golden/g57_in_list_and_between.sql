-- Ported from filter pushdown shapes (ppd_constant_where.q): IN lists,
-- BETWEEN, and constant-folded predicates together.
SELECT c_custkey, c_mktsegment, c_acctbal
FROM customer
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
  AND c_acctbal BETWEEN 1000 AND 2000
  AND 1 = 1
ORDER BY c_custkey
