-- MEDIAN aggregate (exact interpolated percentile on even/odd groups).
SELECT o_orderstatus,
       ROUND(MEDIAN(o_totalprice), 2) AS med,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_orderkey <= 4000
GROUP BY o_orderstatus
ORDER BY o_orderstatus
