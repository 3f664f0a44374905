-- Ported from groupby_ppr / udf_year shapes: grouping directly on
-- computed keys — a string prefix and EXTRACT(YEAR) — not on stored
-- columns.
SELECT SUBSTR(o_orderpriority, 1, 1) AS pri,
       EXTRACT(YEAR FROM o_orderdate) AS yr,
       COUNT(*) AS n
FROM orders
GROUP BY SUBSTR(o_orderpriority, 1, 1), EXTRACT(YEAR FROM o_orderdate)
