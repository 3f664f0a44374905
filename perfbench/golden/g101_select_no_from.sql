-- Ported from select_dummy_source.q: SELECT without FROM — constant
-- projection over the implicit one-row source.
SELECT 3 * 7 AS c21,
       'x' AS s,
       CAST(NULL AS BIGINT) AS nul,
       1 < 2 AS b
