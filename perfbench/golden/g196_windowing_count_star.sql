-- Ported from windowing.q:152-158 (testCountStar): count(*) vs
-- count(col) as window functions over the default sort-spec frame.
-- Adapted: p_brand for p_mfgr; ROWS spec tie-broken by p_partkey.
SELECT p_brand, p_name, p_size,
       count(*) OVER (PARTITION BY p_brand ORDER BY p_name) AS c,
       count(p_size) OVER (PARTITION BY p_brand ORDER BY p_name) AS ca,
       first_value(p_size) OVER w1 AS fvw1
FROM part
WINDOW w1 AS (PARTITION BY p_brand ORDER BY p_name, p_partkey
              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
