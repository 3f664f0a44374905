SELECT o_orderstatus, COUNT(*) AS n,
       ROUND(AVG(o_totalprice), 2) AS avg_price
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
GROUP BY o_orderstatus ORDER BY o_orderstatus
