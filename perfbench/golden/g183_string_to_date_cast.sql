-- Ported from the cast-literal date shapes: ISO string CAST to DATE
-- used in comparisons and date difference arithmetic via EXTRACT.
SELECT EXTRACT(YEAR FROM o_orderdate) AS y, COUNT(*) AS n
FROM orders
WHERE o_orderdate >= CAST('1993-06-15' AS DATE)
  AND o_orderdate < CAST('1997-01-01' AS DATE)
GROUP BY EXTRACT(YEAR FROM o_orderdate)
