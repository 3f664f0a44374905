-- count.q "multi distinct" shape: several COUNT(DISTINCT) on different
-- columns plus plain aggregates in one SELECT (Hive computes via
-- multiple GBY plans; Catalyst via Expand) 
SELECT o_orderstatus,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d_cust,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS d_prio,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY o_orderstatus
