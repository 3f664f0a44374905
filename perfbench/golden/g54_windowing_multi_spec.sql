-- Ported from windowing.q multi-spec shapes: several distinct window
-- specs (different partition/order) in one select.
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum,
       COUNT(*) OVER (PARTITION BY o_orderstatus) AS n_status,
       ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
FROM orders WHERE o_custkey <= 50
ORDER BY o_orderkey
