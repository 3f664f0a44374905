-- Ported from having.q edge: HAVING with no GROUP BY forms an implicit
-- global group — the predicate filters the single aggregate row.
SELECT COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
FROM orders
WHERE o_orderstatus = 'F'
HAVING COUNT(*) > 10
