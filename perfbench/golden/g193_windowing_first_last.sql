-- Ported from windowing.q:94-100 (testFirstLast): first_value /
-- last_value over a centered ±2 ROWS frame next to a degenerate
-- CURRENT ROW..CURRENT ROW sum.  Adapted: p_brand for p_mfgr,
-- DISTRIBUTE/SORT BY -> PARTITION/ORDER BY, p_partkey tie-break so
-- the ROWS frames are total-ordered.
SELECT p_brand, p_name, p_size,
       SUM(p_size) OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey
            ROWS BETWEEN CURRENT ROW AND CURRENT ROW) AS s2,
       first_value(p_size) OVER w1 AS f,
       last_value(p_size) OVER w1 AS l
FROM part
WINDOW w1 AS (PARTITION BY p_brand ORDER BY p_name, p_partkey
              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
