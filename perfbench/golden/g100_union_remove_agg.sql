-- union_remove_1.q / union_remove_6.q shape (clientpositive): UNION ALL
-- of two aggregate branches over the same table consumed by an outer
-- select-star (Hive's union-remove optimization folds the temp write;
-- Spark unions the exchanges directly)
SELECT * FROM (
  SELECT n_regionkey AS key, CAST(COUNT(1) AS BIGINT) AS vals
  FROM nation GROUP BY n_regionkey
  UNION ALL
  SELECT n_regionkey AS key, CAST(SUM(n_nationkey) AS BIGINT) AS vals
  FROM nation GROUP BY n_regionkey
) t
