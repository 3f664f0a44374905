-- Ported from subquery_notin.q's null-hazard family: NOT IN over an
-- inner set containing NULL can never be TRUE — three-valued logic
-- empties the result for keys not in the set too.
SELECT c_custkey
FROM customer
WHERE c_custkey <= 50
  AND c_custkey NOT IN (
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN o_custkey END
    FROM orders WHERE o_orderkey <= 100
  )
