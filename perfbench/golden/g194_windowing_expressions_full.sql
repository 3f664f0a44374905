-- Ported from windowing.q:125-139 (testExpressions): the full ranking +
-- aggregate menu over one sort spec — rank/dense_rank/cume_dist/
-- percent_rank/ntile plus count/avg/stddev and first/last values,
-- with a modulo expression inside first_value.  Adapted: p_brand for
-- p_mfgr; p_partkey tie-break; floats rounded identically both sides.
SELECT p_brand, p_name, p_size,
       rank() OVER w AS r,
       dense_rank() OVER w AS dr,
       ROUND(cume_dist() OVER w, 6) AS cud,
       ROUND(percent_rank() OVER w, 6) AS pr,
       ntile(3) OVER w AS nt,
       count(p_size) OVER w AS ca,
       ROUND(avg(p_size) OVER w, 4) AS av,
       ROUND(COALESCE(stddev_pop(p_size) OVER w, -1), 4) AS st,
       first_value(p_size % 5) OVER w AS fv,
       last_value(p_size) OVER w AS lv,
       first_value(p_size) OVER w1 AS fvw1
FROM part
WINDOW w  AS (PARTITION BY p_brand ORDER BY p_name, p_partkey),
       w1 AS (PARTITION BY p_brand ORDER BY p_name, p_partkey
              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
