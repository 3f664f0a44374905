-- Ported from windowing_range.q: RANGE frame over a VALUE offset
-- (peer rows by numeric distance, not row count).
SELECT p_partkey, p_size,
       CAST(COUNT(*) OVER (ORDER BY p_size RANGE BETWEEN 2 PRECEDING
            AND CURRENT ROW) AS BIGINT) AS n_close
FROM part WHERE p_partkey <= 200
ORDER BY p_partkey
