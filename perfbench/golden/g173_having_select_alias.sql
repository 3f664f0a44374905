-- Ported from having.q's alias leg: HAVING referencing a select-list
-- alias (Hive resolves aliases in HAVING; both engines accept it).
SELECT o_orderstatus, COUNT(*) AS n, ROUND(AVG(o_totalprice), 2) AS avg_price
FROM orders
GROUP BY o_orderstatus
HAVING n > 100
