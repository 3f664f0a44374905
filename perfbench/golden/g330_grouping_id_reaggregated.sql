-- Ported from clientpositive/groupby_grouping_id2.q: GROUPING__ID of a
-- ROLLUP, re-aggregated in an outer GROUP BY.
SELECT gid, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT 2 * GROUPING(n_regionkey) + GROUPING(n_nationkey) AS gid
  FROM nation GROUP BY ROLLUP(n_regionkey, n_nationkey)
) t
GROUP BY gid
ORDER BY gid
