-- Ported from union_remove_6.q / union_remove_24.q shape: UNION ALL with
-- one aggregated branch and one raw-projection branch, read through an
-- outer filter (the mixed map-only + map-reduce branch case of the
-- union-remove family; one branch also casts the key like
-- union_remove_24's DOUBLE cast).
SELECT key, vals
FROM (
  SELECT CAST(o_custkey AS DOUBLE) AS key, COUNT(1) AS vals
  FROM orders WHERE o_orderkey <= 1000 GROUP BY o_custkey
  UNION ALL
  SELECT CAST(o_custkey AS DOUBLE) AS key, CAST(o_orderkey AS BIGINT) AS vals
  FROM orders WHERE o_orderkey <= 50
) u
WHERE key < 500
