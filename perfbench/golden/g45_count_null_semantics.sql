-- Ported from count.q + nullgroup.q: COUNT(*) vs COUNT(col) vs
-- COUNT(DISTINCT col) over a column with injected NULLs, grouped on a
-- key that is itself NULL for one group.
SELECT NULLIF(n_regionkey, 2) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_star,
       CAST(COUNT(NULLIF(n_nationkey, 5)) AS BIGINT) AS n_col,
       CAST(COUNT(DISTINCT NULLIF(n_nationkey % 3, 0)) AS BIGINT) AS n_dist
FROM nation
GROUP BY NULLIF(n_regionkey, 2)
ORDER BY grp NULLS FIRST
