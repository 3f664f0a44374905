-- Ported from the COALESCE-join-key shape in clientpositive/join_nullsafe.q
-- (null-safe matching spelled portably via coalesce sentinel).
WITH m AS (
  SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_nationkey END AS k,
         n_regionkey AS v
  FROM nation
)
SELECT CAST(COUNT(*) AS BIGINT) AS n
FROM m a JOIN m b ON COALESCE(a.k, -1) = COALESCE(b.k, -1)
