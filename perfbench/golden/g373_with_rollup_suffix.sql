-- Hive's legacy rollup-suffix grouping form (HiveParser groupByClause
-- KW_WITH KW_ROLLUP; groupby_rollup1.q uses both forms) — equivalent to
-- the ANSI ROLLUP(a, b): subtotals + grand total.
SELECT o_orderstatus AS s, o_orderpriority AS p,
       COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS ks
FROM orders
WHERE o_orderkey <= 1000
GROUP BY o_orderstatus, o_orderpriority WITH ROLLUP
