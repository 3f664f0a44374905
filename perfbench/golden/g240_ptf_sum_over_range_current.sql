-- ptf.q/windowing RANGE default-frame shape: sum over the Hive default
-- frame (RANGE UNBOUNDED PRECEDING to CURRENT ROW groups peer rows).
SELECT p_brand, p_size,
       ROUND(SUM(p_retailprice) OVER (PARTITION BY p_brand ORDER BY p_size), 2)
         AS s_range
FROM part
