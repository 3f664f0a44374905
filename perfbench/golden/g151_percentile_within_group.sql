-- Ported from the percentile UDAF surface (GenericUDAFPercentile) in its
-- ANSI WITHIN GROUP spelling: continuous and discrete medians per group.
SELECT o_orderstatus,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4)
         AS med_cont,
       ROUND(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice), 2)
         AS med_disc
FROM orders
GROUP BY o_orderstatus
