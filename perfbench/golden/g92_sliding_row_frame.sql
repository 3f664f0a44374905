-- Ported from windowing.q sliding-frame shapes: centered ROWS frame
-- (1 preceding, 1 following) moving average.
SELECT o_orderkey,
       CAST(ROUND(AVG(o_totalprice) OVER (PARTITION BY o_orderstatus
            ORDER BY o_orderkey
            ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 4) AS DOUBLE) AS mov_avg
FROM orders WHERE o_orderkey <= 300
