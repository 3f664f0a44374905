-- Ported from count distinct shapes: composite-key distinct count via
-- the dialect-shared derived-DISTINCT form (Spark also accepts
-- COUNT(DISTINCT a, b); DuckDB does not, so the corpus uses the
-- portable rewrite both engines plan identically).
SELECT CAST(COUNT(*) AS BIGINT) AS n_cust_status
FROM (SELECT DISTINCT o_custkey, o_orderstatus FROM orders) t
