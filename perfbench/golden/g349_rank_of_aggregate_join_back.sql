-- Rank over an aggregated CTE, filter top-2 per region, join back to
-- names (the report-query composition: agg -> window -> filter -> join).
WITH per_nation AS (
  SELECT n_regionkey, n_nationkey, n_name,
         (SELECT COUNT(*) FROM customer WHERE c_nationkey = n_nationkey) AS n_cust
  FROM nation
), ranked AS (
  SELECT n_regionkey, n_name, n_cust,
         RANK() OVER (PARTITION BY n_regionkey ORDER BY n_cust DESC, n_name) AS rk
  FROM per_nation
)
SELECT r_name, n_name, n_cust, CAST(rk AS BIGINT) AS rk
FROM ranked JOIN region ON r_regionkey = n_regionkey
WHERE rk <= 2
ORDER BY r_name, rk, n_name
