-- Ported from windowing.q:160-167 (testUDAFs): sum/min/max/avg as
-- window functions over the centered ±2 ROWS frame.  Adapted: p_brand
-- for p_mfgr; p_partkey tie-break; ROUND on both sides.
SELECT p_brand, p_name, p_size,
       ROUND(SUM(p_retailprice) OVER w1, 2) AS s,
       ROUND(MIN(p_retailprice) OVER w1, 2) AS mi,
       ROUND(MAX(p_retailprice) OVER w1, 2) AS ma,
       ROUND(AVG(p_retailprice) OVER w1, 4) AS ag
FROM part
WINDOW w1 AS (PARTITION BY p_brand ORDER BY p_name, p_partkey
              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
