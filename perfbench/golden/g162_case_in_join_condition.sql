-- Ported from the computed-join-key shapes: a CASE expression inside
-- the join condition — region buckets matched to a derived label.
SELECT r_name, COUNT(*) AS n
FROM nation n
JOIN region r
  ON r.r_regionkey = CASE WHEN n.n_nationkey < 10 THEN n.n_regionkey
                          ELSE MOD(n.n_nationkey, 5) END
GROUP BY r_name
