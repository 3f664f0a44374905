-- Ported from join2.q-style self joins: the same table under two
-- aliases with different filters, joined on a derived key.
SELECT a.n_nationkey AS left_key, b.n_nationkey AS right_key, a.n_regionkey
FROM nation a JOIN nation b
  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
WHERE a.n_regionkey <= 2
ORDER BY left_key, right_key
