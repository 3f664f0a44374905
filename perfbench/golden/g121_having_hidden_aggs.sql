-- having2.q: HAVING referencing aggregates absent from the SELECT list
SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) > 3 AND MAX(o_totalprice) < 300000 AND MIN(o_orderkey) > 10
