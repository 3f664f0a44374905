-- Ported from having.q:5-13 (HAVING over count/avg with an aliased
-- aggregate reused in the predicate).
SELECT o_custkey, CAST(COUNT(1) AS BIGINT) AS n, ROUND(AVG(o_totalprice), 2) AS avg_price
FROM orders
GROUP BY o_custkey
HAVING COUNT(1) > 20 AND AVG(o_totalprice) > 100000
ORDER BY o_custkey
