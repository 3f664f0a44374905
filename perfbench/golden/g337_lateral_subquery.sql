-- LATERAL correlated derived table (the dependent-join shape; Spark
-- SPARK-28379 lateral subquery, DuckDB lateral): top order total per
-- customer via a correlated FROM-clause subquery.
SELECT c_custkey, t.top_total
FROM customer,
LATERAL (
  SELECT MAX(o_totalprice) AS top_total
  FROM orders WHERE o_custkey = c_custkey
) t
WHERE c_custkey <= 20 AND t.top_total IS NOT NULL
ORDER BY c_custkey
