-- Ported from the expression-join-key shape in clientpositive/join14.q:
-- equality on computed keys, not bare columns.
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n.n_nationkey) AS BIGINT) AS ksum
FROM nation n JOIN region r
  ON UPPER(SUBSTR(n.n_name, 1, 1)) = UPPER(SUBSTR(r.r_name, 1, 1))
