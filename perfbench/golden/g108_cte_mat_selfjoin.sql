-- cte_mat_1.q shape: a CTE joined with itself (materialize-threshold
-- -1 forces inline in Hive; Spark inlines and dedups the scan)
WITH q1 AS (SELECT * FROM nation WHERE n_regionkey = 2)
SELECT a.n_nationkey AS k
FROM q1 a JOIN q1 b ON a.n_nationkey = b.n_nationkey
