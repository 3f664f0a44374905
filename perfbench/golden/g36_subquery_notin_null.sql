-- Ported from subquery_notin.q (non-agg corr NOT IN): NOT IN must be
-- null-aware — if the subquery could produce NULL the whole predicate
-- collapses; here the inner slice is non-null so NOT IN behaves as
-- anti-join.  Customers whose nation is not among the top-populated.
SELECT c_custkey, c_nationkey
FROM customer
WHERE c_nationkey NOT IN (
  SELECT n_nationkey FROM nation WHERE n_regionkey = 1
) AND c_custkey <= 200
ORDER BY c_custkey
