-- Ported from order_null.q: Hive's default null ordering (ASC => NULLS
-- FIRST, DESC => NULLS LAST — HiveParser.g:2149) materialized as
-- row_number ranks so the order-insensitive compare still pins placement.
-- DuckDB's bare default differs (NULLS LAST), so each rank spells the
-- Hive default explicitly.
WITH src_null AS (
  SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderkey END AS a,
         CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END AS b,
         o_orderkey AS k
  FROM orders WHERE o_orderkey <= 120
)
SELECT k, a, b,
       CAST(ROW_NUMBER() OVER (ORDER BY a ASC NULLS FIRST, k) AS INT) AS r_asc,
       CAST(ROW_NUMBER() OVER (ORDER BY a DESC NULLS LAST, k) AS INT) AS r_desc,
       CAST(ROW_NUMBER() OVER (ORDER BY b ASC NULLS LAST, a ASC NULLS FIRST, k) AS INT) AS r_mixed
FROM src_null
