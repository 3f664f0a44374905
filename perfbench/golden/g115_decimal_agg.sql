-- Ported from decimal_precision.q / decimal_udf.q: double source cast to
-- DECIMAL, aggregated exactly (decimal SUM/MIN/MAX carry no float error;
-- both engines use the same HALF_UP double->decimal conversion on
-- two-decimal source values, which are exactly representable decisions).
SELECT l_linestatus,
       SUM(CAST(l_quantity AS DECIMAL(12, 2))) AS sq,
       MIN(CAST(l_discount AS DECIMAL(6, 2))) AS mind,
       MAX(CAST(l_tax AS DECIMAL(6, 2))) AS maxt
FROM lineitem
GROUP BY l_linestatus
