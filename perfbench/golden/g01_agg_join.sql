SELECT n_name, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
