-- Ported from windowing_windowspec.q:20-32: the `ROWS UNBOUNDED
-- PRECEDING` shorthand (no BETWEEN) and the forward RANGE frame
-- CURRENT ROW .. UNBOUNDED FOLLOWING, adapted to the part table with
-- full tie-breaks.
SELECT p_name,
       CAST(SUM(p_size) OVER (PARTITION BY p_brand
            ORDER BY p_name, p_partkey ROWS UNBOUNDED PRECEDING)
       AS BIGINT) AS run_sz,
       CAST(SUM(p_size) OVER (PARTITION BY p_brand ORDER BY p_size
            RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       AS BIGINT) AS fwd_sz
FROM part
WHERE p_partkey <= 300
