-- Ported from clientpositive/groupby_ppd.q (HIVE-2382): HAVING
-- predicate pushed through a group-by over a nested union of column
-- permutations.
SELECT a.bar, a.foo, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT foo, bar FROM (
    SELECT o_custkey AS bar, o_orderkey AS foo FROM orders c WHERE o_orderkey <= 500
    UNION ALL
    SELECT o_custkey AS bar, o_orderkey AS foo FROM orders d WHERE o_orderkey <= 500
  ) b
) a
GROUP BY bar, foo
HAVING bar = 1
ORDER BY foo
