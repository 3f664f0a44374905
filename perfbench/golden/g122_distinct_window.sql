-- Ported from windowing_distinct.q (HIVE-9534): COUNT/SUM/AVG(DISTINCT)
-- over partition-only windows, incl. an expression argument.  The engine
-- rewrites these onto collect_set's window form; DuckDB evaluates its
-- native distinct window aggregates.
SELECT o_orderkey, o_orderstatus,
       COUNT(DISTINCT o_orderpriority) OVER (PARTITION BY o_orderstatus) AS d_prio,
       COUNT(DISTINCT concat(o_orderpriority, '#')) OVER (PARTITION BY o_orderstatus) AS d_cprio,
       ROUND(CAST(SUM(DISTINCT o_custkey % 100) OVER (PARTITION BY o_orderstatus) AS DOUBLE), 2) AS s_cust,
       ROUND(CAST(AVG(DISTINCT o_custkey % 100) OVER (PARTITION BY o_orderstatus) AS DOUBLE), 6) AS a_cust
FROM orders
WHERE o_orderkey <= 800
