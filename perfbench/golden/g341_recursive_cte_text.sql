-- WITH RECURSIVE through the SQL-text path (both engines): integer
-- series generator joined against nationkeys.
WITH RECURSIVE seq(x) AS (
  SELECT 0
  UNION ALL
  SELECT x + 1 FROM seq WHERE x < 24
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(x) AS BIGINT) AS sum_x
FROM seq JOIN nation ON n_nationkey = x
