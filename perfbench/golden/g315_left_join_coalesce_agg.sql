-- Ported from clientpositive/join28.q shape: LEFT JOIN with COALESCE
-- over the null-extended aggregate.
SELECT r.r_name,
       COALESCE(CAST(SUM(big.n) AS BIGINT), 0) AS total
FROM region r
LEFT JOIN (SELECT n_regionkey, COUNT(*) AS n FROM nation
           WHERE n_nationkey > 20 GROUP BY n_regionkey) big
  ON r.r_regionkey = big.n_regionkey
GROUP BY r.r_name ORDER BY r.r_name
