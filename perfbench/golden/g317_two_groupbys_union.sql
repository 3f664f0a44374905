-- Ported from clientpositive/groupby8.q shape (the multi-insert pair
-- expressed as a union): two different groupings of one source.
SELECT 'by_flag' AS grp, l_returnflag AS key, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'by_status', l_linestatus, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
FROM lineitem GROUP BY l_linestatus
