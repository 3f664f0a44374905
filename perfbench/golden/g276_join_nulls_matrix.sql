-- Ported from clientpositive/join_nulls.q: the join-type × key-choice
-- matrix over a null-bearing two-column table (in1.txt adapted to a
-- CTE deriving NULLs from nation), digested to per-shape row counts —
-- NULL keys must never match, outer sides must still survive.
WITH m AS (
  SELECT CASE WHEN n_nationkey % 4 = 0 THEN NULL ELSE n_nationkey END AS key,
         CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_regionkey END AS value
  FROM nation
)
SELECT 'inner_kv' AS shape, CAST(COUNT(*) AS BIGINT) AS n
  FROM m a JOIN m b ON a.key = b.value
UNION ALL SELECT 'inner_kk', CAST(COUNT(*) AS BIGINT)
  FROM m a JOIN m b ON a.key = b.key
UNION ALL SELECT 'left_kv', CAST(COUNT(*) AS BIGINT)
  FROM m a LEFT OUTER JOIN m b ON a.key = b.value
UNION ALL SELECT 'left_kk_vv', CAST(COUNT(*) AS BIGINT)
  FROM m a LEFT OUTER JOIN m b ON a.key = b.key AND a.value = b.value
UNION ALL SELECT 'right_vv', CAST(COUNT(*) AS BIGINT)
  FROM m a RIGHT OUTER JOIN m b ON a.value = b.value
UNION ALL SELECT 'full_kk', CAST(COUNT(*) AS BIGINT)
  FROM m a FULL OUTER JOIN m b ON a.key = b.key
UNION ALL SELECT 'full_vv_kk', CAST(COUNT(*) AS BIGINT)
  FROM m a FULL OUTER JOIN m b ON a.value = b.value AND a.key = b.key
