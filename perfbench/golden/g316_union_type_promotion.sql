-- Ported from clientpositive/union7.q shape: branches of differing
-- numeric types promote to the wider type across UNION ALL.
SELECT v FROM (
  SELECT CAST(n_nationkey AS INT) AS v FROM nation
  UNION ALL
  SELECT CAST(r_regionkey + 0.5 AS DOUBLE) AS v FROM region
) t ORDER BY v
