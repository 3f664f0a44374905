-- Ported from conditional-aggregation shapes (the manual-pivot idiom
-- groupby_sort family queries rely on): SUM/COUNT over CASE.
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc,
       CAST(COUNT(CASE WHEN l_tax = 0 THEN 1 END) AS BIGINT) AS n_notax,
       CAST(ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS DOUBLE) AS qty_f
FROM lineitem WHERE l_orderkey <= 500
GROUP BY l_returnflag
