-- Ported from conditional-aggregation shapes via the standard FILTER
-- clause (the modern spelling of SUM(CASE WHEN ...)).
SELECT l_returnflag,
       CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_disc,
       CAST(ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS DOUBLE) AS qty_f,
       CAST(COUNT(*) AS BIGINT) AS n_all
FROM lineitem WHERE l_orderkey <= 500
GROUP BY l_returnflag
