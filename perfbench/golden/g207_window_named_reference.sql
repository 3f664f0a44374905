-- Ported from windowing.q:326-331 (testWindowCrossReference): a named
-- window ALIASED by another (`w2 AS w1`) with different functions over
-- each.  (Hive's frame-refining inheritance form `w2 AS (w1 ROWS ...)`
-- is outside the common dialect — Spark's WINDOW clause supports only
-- exact aliasing, and DuckDB requires the parenthesized form
-- `w2 AS (w1)` — so this ports the cross-reference leg.)
-- Adapted: p_brand for p_mfgr; p_partkey tie-break.
SELECT p_brand, p_name, p_size,
       CAST(SUM(p_size) OVER w1 AS BIGINT) AS s1,
       rank() OVER w2 AS r,
       count(*) OVER w2 AS c
FROM part
WINDOW w1 AS (PARTITION BY p_brand ORDER BY p_name, p_partkey),
       w2 AS (w1)
