-- Ported from windowing.q:370-374 (testDistinctWithWindowing):
-- DISTINCT applied ON TOP of a windowed select — the window computes
-- per input row, then duplicates collapse.
SELECT DISTINCT p_brand, p_size,
       CAST(SUM(p_size) OVER (PARTITION BY p_brand
            ORDER BY p_size
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS BIGINT) AS s
FROM part
