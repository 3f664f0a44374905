-- Ported from auto_join_filters.q (join with an additional inequality
-- residual condition on top of the equi-key).
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
FROM customer JOIN orders
  ON c_custkey = o_custkey AND o_totalprice > c_acctbal
WHERE c_custkey <= 500
