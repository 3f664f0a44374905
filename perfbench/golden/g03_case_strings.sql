SELECT c_custkey, upper(substr(c_name, 1, 8)) AS pre,
       CASE WHEN c_acctbal > 5000 THEN 'hi' ELSE 'lo' END AS band
FROM customer WHERE c_custkey <= 200
