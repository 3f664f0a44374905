-- GROUP BY ALL: every non-aggregate select item becomes a grouping key.
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
WHERE o_orderkey <= 2000
GROUP BY ALL
ORDER BY o_orderstatus, o_orderpriority
