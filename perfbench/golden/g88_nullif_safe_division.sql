-- Ported from udf_nullif / division shapes: x/0 is NULL with ANSI off
-- (Hive semantics) and NULLIF guards reproduce it explicitly.
SELECT l_orderkey, l_linenumber,
       CAST(l_extendedprice / NULLIF(l_quantity - l_quantity, 0) AS DOUBLE) AS div_null,
       CAST(ROUND(l_extendedprice / NULLIF(l_quantity, 0), 4) AS DOUBLE) AS unit_price,
       NULLIF(l_returnflag, 'N') AS rf_or_null
FROM lineitem WHERE l_orderkey <= 100
