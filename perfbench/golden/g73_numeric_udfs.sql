-- Ported from udf_round_2.q / udf_floor.q family: negative round scale,
-- floor/ceil on scaled doubles, and modulo.
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(l_extendedprice, -2) AS DOUBLE) AS price_r,
       CAST(FLOOR(l_discount * 10) AS BIGINT) AS disc_f,
       CAST(CEIL(l_tax * 10) AS BIGINT) AS tax_c,
       l_linenumber % 3 AS mod3,
       CAST(ABS(0 - l_quantity) AS DOUBLE) AS absq
FROM lineitem WHERE l_orderkey <= 100
