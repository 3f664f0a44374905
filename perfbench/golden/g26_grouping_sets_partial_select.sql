-- Ported from groupby_grouping_sets1.q:13 ("SELECT a ... GROUPING SETS
-- (a, b, c)"): projecting one grouping column while other sets are
-- active yields NULLs for the rows grouped by the other columns.
SELECT o_orderstatus, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
