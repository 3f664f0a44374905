-- IS [NOT] DISTINCT FROM: null-safe comparison (Hive's <=> spelled in
-- the SQL-standard form) as filter and aggregate-input predicates.
SELECT CAST(COUNT(*) AS BIGINT) AS n_diff,
       CAST(SUM(CASE WHEN o_orderpriority IS NOT DISTINCT FROM o_orderstatus
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_same
FROM orders
WHERE o_orderkey <= 1000
  AND o_orderstatus IS DISTINCT FROM 'X'
