-- Ported from auto_join18_multi_distinct.q: two COUNT(DISTINCT) on
-- different keys in one aggregate over a join result (the Expand-based
-- multi-distinct plan Hive rewrites via
-- HiveExpandDistinctAggregatesRule, Catalyst natively).
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
       CAST(COUNT(1) AS BIGINT) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
