-- Ported from ptf.q case 13 (testPTFAndWindowingInSubQ): window functions
-- computed in a subquery — one with a named sliding frame — projected by
-- the outer query.
SELECT p_brand, p_name, sub1.cd, sub1.s1
FROM (
  SELECT p_brand, p_name,
         COUNT(p_size) OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey) AS cd,
         p_retailprice,
         ROUND(SUM(p_retailprice) OVER w1, 2) AS s1
  FROM part
  WINDOW w1 AS (PARTITION BY p_brand ORDER BY p_name, p_partkey
                ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
) sub1
