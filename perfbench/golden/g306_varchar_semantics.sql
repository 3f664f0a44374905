-- Ported from clientpositive/varchar_1.q: VARCHAR(n) casts truncate,
-- comparisons against string literals hold.
SELECT CAST(n_name AS VARCHAR(5)) AS v5,
       LENGTH(CAST(n_name AS VARCHAR(5))) <= 5 AS truncated,
       CAST(n_name AS VARCHAR(25)) = n_name AS full_roundtrip
FROM nation ORDER BY n_nationkey
