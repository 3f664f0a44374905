-- Ported from the covar/corr statistical family extended to the ANSI
-- linear-regression aggregates: slope, intercept, r2 and counts of the
-- price-vs-quantity fit per return flag.
SELECT l_returnflag,
       ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
