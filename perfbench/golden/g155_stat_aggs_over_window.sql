-- Ported from windowing_udaf.q: statistical aggregates used as window
-- functions — per-partition covariance and stddev attached to each row.
SELECT o_orderkey,
       ROUND(covar_pop(o_totalprice, o_custkey)
             OVER (PARTITION BY o_orderstatus), 2) AS cv,
       ROUND(stddev_pop(o_totalprice)
             OVER (PARTITION BY o_orderstatus), 4) AS sd
FROM orders
WHERE o_orderkey < 200
