-- Ported from windowing_order_null.q / windowing_range_multiorder.q NULLS
-- FIRST/LAST shapes: rank over null-planted keys with explicit null order.
WITH src AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS prio,
         o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey <= 1200
)
SELECT o_orderkey,
       CAST(RANK() OVER (PARTITION BY o_orderstatus
            ORDER BY prio ASC NULLS FIRST, o_orderkey) AS INT) AS r_nf,
       CAST(RANK() OVER (PARTITION BY o_orderstatus
            ORDER BY prio DESC NULLS LAST, o_orderkey) AS INT) AS r_nl,
       COUNT(prio) OVER (PARTITION BY o_orderstatus) AS n_nn
FROM src
