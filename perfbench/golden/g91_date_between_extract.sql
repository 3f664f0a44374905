-- Ported from date_udf.q / timestamp comparison shapes: BETWEEN on
-- timestamps, EXTRACT fields, and month bucketing via date_trunc.
SELECT o_orderkey,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mon,
       CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS mon_start
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1994-01-01 00:00:00'
                      AND TIMESTAMP '1994-03-31 23:59:59'
  AND o_orderkey <= 2000
