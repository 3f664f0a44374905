SELECT CAST(year(o_orderdate) AS INT) AS yr, COUNT(*) AS n,
       ROUND(AVG(o_totalprice), 2) AS avg_price
FROM orders GROUP BY 1 ORDER BY 1
