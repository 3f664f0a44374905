-- Ported from cross_product_check_2.q: an explicit CROSS JOIN of two
-- pre-filtered small derived tables, aggregated — both side filters
-- must push below the product.
SELECT a.r_name, b.n_name, a.r_regionkey + b.n_nationkey AS ksum
FROM (SELECT r_regionkey, r_name FROM region WHERE r_regionkey <= 2) a
CROSS JOIN (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey <= 4) b
