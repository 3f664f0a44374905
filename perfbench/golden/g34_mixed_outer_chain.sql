-- Ported from auto_join_nulls.q:28-29 ("a LEFT OUTER JOIN b ON ...
-- RIGHT OUTER JOIN c ON ..."): a mixed outer-join chain whose
-- intermediate null rows feed the next join.  Adapted to nation with
-- NULLified region keys; digest = count + null-safe sum.
WITH a AS (
  SELECT n_nationkey AS k, NULLIF(n_regionkey, 0) AS v FROM nation
), b AS (
  SELECT n_nationkey AS k, NULLIF(n_regionkey, 1) AS v FROM nation
), c AS (
  SELECT n_nationkey AS k, NULLIF(n_regionkey, 2) AS v FROM nation
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(COALESCE(a.k, -1) + COALESCE(b.k, -1) + COALESCE(c.k, -1)) AS BIGINT) AS key_sum
FROM a LEFT OUTER JOIN b ON a.v = b.v
       RIGHT OUTER JOIN c ON b.v = c.v
