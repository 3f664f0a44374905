-- Ported from clientpositive/windowing.q stats section: running
-- standard deviation (sample + population) as window aggregates.
SELECT o_orderkey AS k,
       ROUND(STDDEV_SAMP(o_totalprice) OVER
             (ORDER BY o_orderkey ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)
         AS run_std,
       ROUND(STDDEV_POP(o_totalprice) OVER
             (ORDER BY o_orderkey ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)
         AS run_stdp
FROM orders WHERE o_orderkey <= 40 ORDER BY k
