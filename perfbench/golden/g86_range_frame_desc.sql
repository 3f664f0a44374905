-- Ported from windowing_windowspec.q: a VALUE-offset RANGE frame over a
-- DESCENDING ordering — "preceding" means larger keys.
SELECT o_orderkey,
       CAST(SUM(o_orderkey) OVER (ORDER BY o_orderkey DESC
            RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS s
FROM orders WHERE o_orderkey <= 100
