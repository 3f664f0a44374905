-- Ported from groupby_grouping_sets1.q:9: explicit GROUPING SETS mixing
-- single columns, the pair, and the grand total ().
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderstatus, o_orderpriority),
                        (o_orderpriority), ())
