-- Ported from windowing_expressions.q: the running-sum identity
-- sum over w == sum(lag(x,1,0)) over w + last_value(x) over w.  Hive's PTF
-- evaluates the nested navigation inline; standard SQL stages the LAG in a
-- derived table, then windows over it — same identity, per row.
WITH staged AS (
  SELECT p_partkey, p_brand, p_retailprice,
         COALESCE(LAG(p_retailprice, 1) OVER
                  (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey),
                  0.0) AS prev_price
  FROM part
)
SELECT p_partkey, p_brand,
       (ROUND(SUM(p_retailprice) OVER w, 2)
          = ROUND(SUM(prev_price) OVER w + LAST_VALUE(p_retailprice) OVER w, 2)) AS sum_identity,
       (ROUND(MAX(p_retailprice) OVER w - MIN(p_retailprice) OVER w, 2)
          = ROUND(LAST_VALUE(p_retailprice) OVER w
                  - FIRST_VALUE(p_retailprice) OVER w, 2)) AS range_identity
FROM staged
WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
