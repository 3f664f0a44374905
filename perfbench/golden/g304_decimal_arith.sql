-- Ported from clientpositive/decimal_1.q + decimal_2.q: DECIMAL casts,
-- scale-expanding arithmetic, and rounding.
SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS d,
       CAST(o_totalprice AS DECIMAL(18,2)) + CAST(1.5 AS DECIMAL(5,2)) AS dplus,
       CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS dtimes,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) / 3, 4) AS DECIMAL(20,4)) AS ddiv
FROM orders WHERE o_orderkey <= 30 ORDER BY o_orderkey
