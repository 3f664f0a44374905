-- Ported from join34.q-style chains: inner + left joins across three
-- tables with filters at different levels.
SELECT r_name, n_name, CAST(COUNT(c_custkey) AS BIGINT) AS n_cust
FROM region
JOIN nation ON r_regionkey = n_regionkey
LEFT JOIN customer ON n_nationkey = c_nationkey AND c_acctbal > 9000
WHERE r_regionkey < 3
GROUP BY r_name, n_name
ORDER BY r_name, n_name
