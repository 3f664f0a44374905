-- Ported from count.q / groupby_multi_distinct shapes: several DISTINCT
-- aggregates over DIFFERENT columns in one grouped query — the
-- multi-distinct expansion Hive plans with a single reshuffled
-- aggregation tree and Catalyst rewrites via Expand.
SELECT o_orderstatus AS status,
       COUNT(DISTINCT o_custkey) AS n_cust,
       COUNT(DISTINCT o_orderpriority) AS n_prio,
       COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
WHERE o_orderkey <= 3000
GROUP BY o_orderstatus
