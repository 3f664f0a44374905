-- Ported from groupby_grouping_sets_limit.q: grouping sets under
-- ORDER BY + LIMIT.  Explicit NULLS FIRST on every key makes the total
-- order engine-independent (Spark defaults ASC NULLS FIRST, DuckDB ASC
-- NULLS LAST).
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY n DESC, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
LIMIT 10
