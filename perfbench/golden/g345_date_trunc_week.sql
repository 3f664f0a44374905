-- date_trunc to week/quarter boundaries as grouping keys.
SELECT CAST(DATE_TRUNC('week', o_orderdate) AS DATE) AS wk,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_orderdate >= DATE '1995-01-01'
  AND o_orderdate < DATE '1995-03-01'
GROUP BY 1
ORDER BY wk
