-- Ported from windowing_navfn.q: lead/lag with offsets and explicit
-- defaults, mixed with arithmetic on the navigated value, plus a string
-- default ('fred' in the .q) via COALESCE.
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       ROUND(l_quantity - LEAD(l_quantity, 3, 0.0) OVER
             (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice), 2) AS d_lead3,
       ROUND(LAG(l_extendedprice, 2) OVER
             (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice), 2) AS lag2,
       COALESCE(LAG(l_linestatus, 3) OVER
             (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice), 'fred') AS lag_s
FROM lineitem
WHERE l_orderkey <= 600
