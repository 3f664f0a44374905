-- Ported from the scalar-report idiom: two one-row aggregates crossed
-- into a single comparison row.
SELECT ROUND(o.avg_order, 2) AS avg_order,
       ROUND(l.avg_line, 2) AS avg_line,
       ROUND(o.avg_order / l.avg_line, 4) AS order_to_line
FROM (SELECT AVG(o_totalprice) AS avg_order FROM orders) o
CROSS JOIN (SELECT AVG(l_extendedprice) AS avg_line FROM lineitem) l
