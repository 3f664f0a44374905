SELECT o_orderkey, o_custkey,
       CAST(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
            RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS run_sum,
       ROUND(lag(o_totalprice, 1, 0.0) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS prev_price
FROM orders WHERE o_custkey <= 50
ORDER BY o_custkey, o_orderkey
