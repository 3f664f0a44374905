-- Ported from auto_join21.q: LEFT OUTER JOIN whose ON carries
-- non-pushable single-side conjuncts (they filter MATCHES, not rows),
-- chained into a RIGHT OUTER JOIN with a filter on the preserved side.
-- The classic outer-join ON-vs-WHERE semantics trap.
SELECT n1.n_nationkey AS k1, n2.n_nationkey AS k2, n3.n_nationkey AS k3
FROM nation n1
LEFT OUTER JOIN nation n2
  ON (n1.n_nationkey = n2.n_nationkey AND n1.n_nationkey < 10
      AND n2.n_nationkey > 5)
RIGHT OUTER JOIN nation n3
  ON (n2.n_nationkey = n3.n_nationkey AND n3.n_nationkey < 10)
