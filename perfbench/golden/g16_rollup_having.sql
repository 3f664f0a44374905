SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_linestatus) AS INT) AS g,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
HAVING SUM(l_quantity) > 1000
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, g
