-- Ported from groupby_position.q (hive.groupby.position.alias): GROUP
-- BY and grouping keys referenced by select-list position.
SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
FROM orders WHERE o_orderkey <= 1000
GROUP BY 1, 2
