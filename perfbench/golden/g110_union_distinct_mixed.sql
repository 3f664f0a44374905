-- union_remove_6.q / union distinct shape: DISTINCT over a UNION ALL
-- of an aggregate branch and a raw-projection branch
SELECT DISTINCT key, vals FROM (
  SELECT n_regionkey AS key, CAST(COUNT(1) AS BIGINT) AS vals
  FROM nation GROUP BY n_regionkey
  UNION ALL
  SELECT n_regionkey AS key, CAST(n_nationkey AS BIGINT) AS vals
  FROM nation
) t
