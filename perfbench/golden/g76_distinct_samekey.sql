-- Ported from groupby_distinct_samekey.q: DISTINCT aggregate over the
-- grouping key itself plus a second distinct on another column.
SELECT l_orderkey,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS cd_key,
       CAST(SUM(DISTINCT l_linenumber) AS BIGINT) AS sd_line
FROM lineitem WHERE l_orderkey <= 100
GROUP BY l_orderkey
