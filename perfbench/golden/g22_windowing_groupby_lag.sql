-- Ported from windowing.q:14-21 (testGroupByWithPartitioning): GROUP BY
-- feeding windows + lag with a column default (lag(p_size,1,p_size)).
-- Adapted: p_brand for p_mfgr, p_partkey in the grouping key as the
-- deterministic tie-break for the lag ordering.
SELECT p_brand, p_name, p_size,
       ROUND(MIN(p_retailprice), 2) AS min_price,
       rank() OVER (PARTITION BY p_brand ORDER BY p_name) AS r,
       dense_rank() OVER (PARTITION BY p_brand ORDER BY p_name) AS dr,
       p_size - lag(p_size, 1, p_size)
           OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey) AS delta_sz
FROM part
GROUP BY p_brand, p_name, p_size, p_partkey
