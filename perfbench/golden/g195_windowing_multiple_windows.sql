-- Ported from windowing.q:141-150 (testMultipleWindows): three window
-- specs in one select — a running RANGE sum over the name order, a
-- value-RANGE sum over p_size (5 preceding), and a centered ROWS
-- first_value.  Adapted: p_brand for p_mfgr; explicit tie-breaks on
-- the ROWS spec; the RANGE specs keep Hive's tied-key semantics.
SELECT p_brand, p_name, p_size,
       rank() OVER (PARTITION BY p_brand ORDER BY p_name) AS r,
       CAST(SUM(p_size) OVER (PARTITION BY p_brand ORDER BY p_name
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s1,
       CAST(SUM(p_size) OVER (PARTITION BY p_brand ORDER BY p_size
            RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS s2,
       first_value(p_size) OVER w1 AS fv1
FROM part
WINDOW w1 AS (PARTITION BY p_brand ORDER BY p_name, p_partkey
              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
