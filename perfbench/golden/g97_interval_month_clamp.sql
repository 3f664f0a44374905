-- Ported from interval_arithmetic.q: end-of-month clamping under
-- month intervals, and mixed day/hour interval addition.
SELECT o_orderkey,
       o_orderdate + INTERVAL 1 MONTH AS next_month,
       o_orderdate + INTERVAL 36 HOUR AS later,
       o_orderdate - INTERVAL 7 DAY AS week_before
FROM orders WHERE o_orderkey <= 200
