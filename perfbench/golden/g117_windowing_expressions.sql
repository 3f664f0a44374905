-- Ported from windowing_expressions.q: window aggregates composed into
-- arithmetic expressions (deviation from the partition mean) next to a
-- short sliding-frame MIN, two distinct window specs in one SELECT.
SELECT s_suppkey,
       s_acctbal - AVG(s_acctbal) OVER (PARTITION BY s_nationkey) AS delta,
       MIN(s_acctbal) OVER (PARTITION BY s_nationkey
            ORDER BY s_suppkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m3
FROM supplier
