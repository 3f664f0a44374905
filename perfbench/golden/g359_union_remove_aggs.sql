-- Ported from union_remove_1.q: UNION ALL of two map-reduce subqueries
-- (aggregates over the same table) followed by select-star — Hive's
-- union-remove optimization elides the temporary write; in Spark both
-- branches feed the sink directly.  The result semantics are what this
-- corpus checks.
SELECT *
FROM (
  SELECT o_orderstatus AS key, COUNT(1) AS vals
  FROM orders WHERE o_orderkey <= 2000 GROUP BY o_orderstatus
  UNION ALL
  SELECT o_orderstatus AS key, COUNT(1) AS vals
  FROM orders WHERE o_orderkey <= 2000 GROUP BY o_orderstatus
) u
