-- Ported from groupby_position.q (hive.groupby.position.alias): GROUP
-- BY and ORDER BY ordinal positions (Spark: groupByOrdinal /
-- orderByOrdinal, both default-on like Hive 2.1's flag).
SELECT o_orderstatus, o_orderpriority, CAST(COUNT(1) AS BIGINT) AS n
FROM orders
GROUP BY 1, 2
ORDER BY 1, 2
