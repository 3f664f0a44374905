-- Ported from auto_join_nulls.q:8-26 (outer joins where the join key is
-- NULL on some rows: null keys never match, outer sides are preserved).
-- Adapted: nation with n_regionkey NULLed out for region 2 stands in for
-- myinput1; digest = COUNT + null-safe sums instead of Hive's hash().
WITH a AS (
  SELECT n_nationkey AS k, NULLIF(n_regionkey, 2) AS v FROM nation
), b AS (
  SELECT n_nationkey AS k, NULLIF(n_regionkey, 2) AS v FROM nation
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(COALESCE(a.k, -1) + COALESCE(b.k, -1)) AS BIGINT) AS key_sum,
  CAST(SUM(CASE WHEN b.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unmatched
FROM a LEFT OUTER JOIN b ON a.v = b.v
