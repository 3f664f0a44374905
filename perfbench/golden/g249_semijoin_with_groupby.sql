-- semijoin.q aggregated variant: semi join then group the surviving side.
SELECT n.n_nationkey, COUNT(*) AS n_sup
FROM nation n
JOIN (SELECT DISTINCT s_nationkey FROM supplier
      LEFT SEMI JOIN lineitem ON s_suppkey = l_suppkey) x
  ON n.n_nationkey = x.s_nationkey
GROUP BY n.n_nationkey
