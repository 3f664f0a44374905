-- Ported from clientpositive/groupby_distinct_samekey.q: SUM(DISTINCT)
-- over the grouping key itself (one distinct value per group).
SELECT l_linenumber, CAST(SUM(DISTINCT l_linenumber) AS BIGINT) AS s
FROM lineitem
GROUP BY l_linenumber
ORDER BY l_linenumber
