-- Ported from windowing_range.q with calendar bounds: a trailing 7-day
-- RANGE frame over the order date — frame membership is by date
-- arithmetic, not row position.
SELECT o_orderkey,
       COUNT(*) OVER (ORDER BY o_orderdate
                      RANGE BETWEEN INTERVAL 7 DAY PRECEDING
                            AND CURRENT ROW) AS n_7d,
       ROUND(SUM(o_totalprice) OVER (ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW), 2)
         AS rev_7d
FROM orders
WHERE o_orderkey < 300
