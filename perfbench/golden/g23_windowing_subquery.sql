-- Ported from windowing.q:50-58 (testCountInSubQ): windowed aggregates
-- computed in a subquery, outer query projects them.  count() over a
-- sort-only spec keeps Hive's default RANGE frame semantics (ties share
-- a count), which both engines implement identically.
SELECT sub1.r, sub1.dr, sub1.cd, ROUND(sub1.s1, 2) AS s1, sub1.delta_sz
FROM (SELECT p_brand, p_name,
             rank() OVER (PARTITION BY p_brand ORDER BY p_name) AS r,
             dense_rank() OVER (PARTITION BY p_brand ORDER BY p_name) AS dr,
             count(p_size) OVER (PARTITION BY p_brand ORDER BY p_name) AS cd,
             SUM(p_retailprice) OVER (PARTITION BY p_brand
                 ORDER BY p_name, p_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
             p_size - lag(p_size, 1, p_size)
                 OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey) AS delta_sz
      FROM part) sub1
