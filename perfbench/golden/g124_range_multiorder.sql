-- Ported from windowing_range_multiorder.q: RANGE frames with multiple
-- ORDER BY keys (legal when the frame has no value offsets — unbounded
-- preceding to current row includes order-key peers in both engines).
SELECT o_orderstatus, o_orderpriority, o_orderkey,
       ROUND(AVG(o_totalprice) OVER (PARTITION BY o_orderstatus
             ORDER BY o_orderpriority, o_orderkey
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_avg,
       ROUND(MIN(o_totalprice) OVER (PARTITION BY o_orderstatus
             ORDER BY o_orderpriority, o_orderkey
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_min,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus, o_orderpriority
             ORDER BY o_orderkey) AS INT) AS rn
FROM orders
WHERE o_orderkey <= 2000
