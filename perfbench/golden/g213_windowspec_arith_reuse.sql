-- Ported from windowing_windowspec.q:36: the SAME named window used
-- twice inside one arithmetic expression — (avg over w1 + 10) - (avg
-- over w1 - 10) must evaluate the window once and fold to exactly 20.
SELECT p_brand, p_partkey,
       ROUND((AVG(p_retailprice) OVER w1 + 10.0)
             - (AVG(p_retailprice) OVER w1 - 10.0), 2) AS twenty
FROM part
WHERE p_partkey <= 200
WINDOW w1 AS (PARTITION BY p_brand ORDER BY p_partkey)
