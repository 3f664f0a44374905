-- Ported from windowing_windowspec.q: the abbreviated ROWS UNBOUNDED
-- PRECEDING form, current-row-to-unbounded-following, current-row-to-N,
-- symmetric N-preceding/N-following, and named-window arithmetic
-- (HIVE-9228 shape).
SELECT l_orderkey, l_linenumber,
       ROUND(SUM(l_extendedprice) OVER (PARTITION BY l_returnflag
             ORDER BY l_orderkey, l_linenumber, l_extendedprice
             ROWS UNBOUNDED PRECEDING), 2) AS s_abbrev,
       ROUND(SUM(l_quantity) OVER (PARTITION BY l_returnflag
             ORDER BY l_orderkey, l_linenumber, l_extendedprice
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 2) AS s_tail,
       ROUND(AVG(l_quantity) OVER (PARTITION BY l_returnflag
             ORDER BY l_orderkey, l_linenumber, l_extendedprice
             ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING), 4) AS a_fwd5,
       ROUND(AVG(l_discount) OVER (PARTITION BY l_returnflag
             ORDER BY l_orderkey, l_linenumber, l_extendedprice
             ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING), 4) AS a_sym5,
       ROUND((AVG(l_quantity) OVER w1 + 10.0) - (AVG(l_quantity) OVER w1 - 10.0), 2) AS w_arith
FROM lineitem
WHERE l_orderkey <= 400
WINDOW w1 AS (PARTITION BY l_returnflag
              ORDER BY l_orderkey, l_linenumber, l_extendedprice)
