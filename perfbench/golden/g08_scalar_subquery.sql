SELECT o_orderpriority, COUNT(*) AS n_big
FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
GROUP BY o_orderpriority
HAVING COUNT(*) > (SELECT COUNT(*) FROM orders) / 20
ORDER BY o_orderpriority
