-- Ported from clientpositive/nestedvirtual.q shape: three nested
-- derived tables each adding a computed column.
SELECT k2, flag, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT k1 * 2 AS k2, CASE WHEN k1 > 3 THEN 'hi' ELSE 'lo' END AS flag
  FROM (
    SELECT n_regionkey + 1 AS k1 FROM (SELECT n_regionkey FROM nation) t0
  ) t1
) t2
GROUP BY k2, flag ORDER BY k2, flag
