-- Ported from join_nullsafe.q-adjacent shapes: COALESCE fallback keys
-- in the join predicate.
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(a.n_nationkey) AS BIGINT) AS s
FROM nation a JOIN nation b
  ON COALESCE(NULLIF(a.n_regionkey, 0), 99) = COALESCE(NULLIF(b.n_regionkey, 0), 99)
