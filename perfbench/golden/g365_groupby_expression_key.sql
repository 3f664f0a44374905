-- Ported from groupby_ppr.q / groupby3.q shapes: GROUP BY on computed
-- expressions (substring bucket + modulus) that also appear in the
-- select list, with aggregates over a third expression.
SELECT SUBSTR(o_orderpriority, 1, 1) AS prio_digit,
       o_orderkey % 4 AS k4,
       COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
WHERE o_orderkey <= 2500
GROUP BY SUBSTR(o_orderpriority, 1, 1), o_orderkey % 4
