-- Ported from groupby_grouping_sets + multi-distinct composition:
-- COUNT(DISTINCT) evaluated per ROLLUP group including the grand total.
SELECT COALESCE(l_returnflag, 'ALL') AS rf,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem WHERE l_orderkey <= 400
GROUP BY ROLLUP(l_returnflag)
