-- Ported from windowing_navfn.q's nth_value leg: nth_value with an
-- explicit full frame plus first_value/last_value on the same spec —
-- fully tiebroken so both engines agree exactly.
SELECT p_partkey,
       first_value(p_name) OVER w AS fv,
       last_value(p_name) OVER w AS lv,
       nth_value(p_name, 3) OVER w AS third
FROM part
WHERE p_size <= 10
WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
