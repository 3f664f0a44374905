-- Ported from groupby_grouping_sets1.q:7 ("GROUP BY a, b WITH CUBE"):
-- Hive's WITH CUBE spelled as the portable GROUP BY CUBE, over the
-- orders dimensions.
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
