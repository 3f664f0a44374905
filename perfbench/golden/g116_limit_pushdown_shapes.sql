-- limit_pushdown.q (HIVE-3562): Top-N pushed below the final exchange —
-- order+limit over raw rows, over an aggregate, and over a distinct,
-- each branch deterministically keyed
SELECT * FROM (
  SELECT 'raw' AS tag, o_orderkey AS k, CAST(1 AS BIGINT) AS v
  FROM orders ORDER BY o_orderkey LIMIT 20
) a
UNION ALL
SELECT * FROM (
  SELECT 'agg', o_custkey, CAST(COUNT(*) AS BIGINT)
  FROM orders GROUP BY o_custkey ORDER BY o_custkey LIMIT 20
) b
UNION ALL
SELECT * FROM (
  SELECT 'dist', k, CAST(1 AS BIGINT) FROM
    (SELECT DISTINCT o_custkey AS k FROM orders) d
  ORDER BY k DESC LIMIT 20
) c
