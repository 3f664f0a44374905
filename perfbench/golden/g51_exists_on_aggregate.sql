-- Ported from subquery_exists_having.q: EXISTS over a grouped subquery
-- with HAVING — the outer row qualifies only when its group passes the
-- aggregate predicate.
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
  GROUP BY o.o_custkey HAVING COUNT(*) >= 25
) AND c_custkey <= 1000
ORDER BY c_custkey
