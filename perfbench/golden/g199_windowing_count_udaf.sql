-- Ported from windowing.q:39-47 (testCountWithWindowingUDAF): count
-- and sum windows mixed with rank over one spec, plus a value
-- expression over the window result.  Adapted: p_brand for p_mfgr,
-- p_partkey tie-break on the ROWS frame.
SELECT p_brand, p_name,
       rank() OVER w AS r,
       count(p_size) OVER w AS cd,
       ROUND(SUM(p_retailprice) OVER (PARTITION BY p_brand
             ORDER BY p_name, p_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS s1,
       p_size,
       p_size - CAST(lag(p_size, 1, p_size) OVER
                     (PARTITION BY p_brand ORDER BY p_name, p_partkey)
                AS INT) AS deltasz
FROM part
WINDOW w AS (PARTITION BY p_brand ORDER BY p_name)
