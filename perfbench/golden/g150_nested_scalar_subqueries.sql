-- Ported from subquery_scalar.q nesting: a scalar subquery whose own
-- predicate contains another scalar subquery.
SELECT o_orderstatus, COUNT(*) AS n
FROM orders
WHERE o_totalprice > (
  SELECT AVG(o_totalprice) FROM orders
  WHERE o_custkey IN (
    SELECT c_custkey FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
  )
)
GROUP BY o_orderstatus
