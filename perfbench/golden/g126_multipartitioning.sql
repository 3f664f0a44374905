-- Ported from windowing_multipartitioning.q: several window functions with
-- DIFFERENT partition specs in one SELECT (Hive: one PTF per spec; Spark:
-- one Window/Exchange per distinct spec).
SELECT o_orderkey,
       CAST(RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS INT) AS r_status,
       CAST(RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS INT) AS r_prio,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_orderstatus), 2) AS s_status,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey % 16), 2) AS s_cust,
       CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS INT) AS rn_global
FROM orders
WHERE o_orderkey <= 1500
