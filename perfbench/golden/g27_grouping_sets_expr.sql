-- Ported from groupby_grouping_sets1.q:17 ("GROUP BY a + b GROUPING SETS
-- (a+b)"): grouping sets over an expression, not a bare column.
SELECT o_custkey % 7 AS k, COUNT(*) AS n
FROM orders GROUP BY GROUPING SETS ((o_custkey % 7))
