-- Ported from date_join.q: equality join on a timestamp-derived date
-- key across two scans of the fact table.
SELECT CAST(a_day AS DATE) AS day, CAST(n_orders AS BIGINT) AS n_orders,
       CAST(n_lines AS BIGINT) AS n_lines
FROM (
  SELECT CAST(o.o_orderdate AS DATE) AS a_day,
         COUNT(DISTINCT o.o_orderkey) AS n_orders,
         COUNT(*) AS n_lines
  FROM orders o
  JOIN lineitem l ON CAST(o.o_orderdate AS DATE) = CAST(l.l_shipdate AS DATE)
  WHERE o.o_orderkey <= 200
  GROUP BY CAST(o.o_orderdate AS DATE)
) t
