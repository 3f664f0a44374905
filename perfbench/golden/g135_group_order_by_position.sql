-- Ported from groupby_position.q / orderby_position.q
-- (hive.groupby.position.alias): ordinal references in GROUP BY and
-- ORDER BY resolve to select-list positions.
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
WHERE o_orderkey <= 5000
GROUP BY 1, 2
ORDER BY 1, 2
