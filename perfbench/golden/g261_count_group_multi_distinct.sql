-- Ported from clientpositive/count.q (grouped case): per-group mixed
-- COUNT(DISTINCT) pair plus a plain SUM (abcd adapted to lineitem).
SELECT l_returnflag AS a,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS db,
       CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS dc,
       CAST(SUM(l_linenumber) AS BIGINT) AS sd
FROM lineitem GROUP BY l_returnflag
