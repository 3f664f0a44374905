-- skewjoinopt1.q compile-time skew shape: the join is split into the
-- skewed-key branch and the residual branch, unioned — results must
-- equal the plain join
SELECT a.o_custkey AS key, CAST(COUNT(1) AS BIGINT) AS cnt FROM (
  SELECT o_custkey, o_orderkey FROM orders WHERE o_custkey = 2
  UNION ALL
  SELECT o_custkey, o_orderkey FROM orders WHERE o_custkey <> 2
) a JOIN customer b ON a.o_custkey = b.c_custkey
GROUP BY a.o_custkey
