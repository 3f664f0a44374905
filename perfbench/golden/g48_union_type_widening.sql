-- Ported from union-type-coercion shapes (union27.q family): UNION ALL
-- branches with int vs double columns widen to a common type.
SELECT grp, ROUND(SUM(v), 2) AS total FROM (
  SELECT 'int_branch' AS grp, CAST(n_nationkey AS DOUBLE) AS v FROM nation
  UNION ALL
  SELECT 'dbl_branch' AS grp, c_acctbal AS v FROM customer WHERE c_custkey <= 100
) u
GROUP BY grp ORDER BY grp
