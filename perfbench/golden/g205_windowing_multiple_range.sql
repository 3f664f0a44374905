-- Ported from windowing.q:300-305 (testMultipleRangeWindows): trailing
-- AND leading value-RANGE frames over the same numeric order in one
-- select — 10-preceding and 10-following p_size bands.
SELECT p_brand, p_name, p_size,
       CAST(SUM(p_size) OVER (PARTITION BY p_brand ORDER BY p_size
            RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS BIGINT) AS s2,
       CAST(SUM(p_size) OVER (PARTITION BY p_brand ORDER BY p_size
            RANGE BETWEEN CURRENT ROW AND 10 FOLLOWING) AS BIGINT) AS s1
FROM part
