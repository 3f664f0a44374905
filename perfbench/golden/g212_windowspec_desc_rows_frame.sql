-- Ported from windowing_windowspec.q:28: a DESC sort inside a centered
-- ±5 ROWS frame — frame membership follows the descending order.
SELECT p_name, p_partkey,
       ROUND(AVG(p_retailprice) OVER (PARTITION BY p_brand
             ORDER BY p_name, p_retailprice DESC, p_partkey
             ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING), 4) AS a
FROM part
WHERE p_partkey <= 300
