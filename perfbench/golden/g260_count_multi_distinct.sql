-- Ported from clientpositive/count.q: the multi-column COUNT(DISTINCT)
-- battery — single and composite distinct key sets in one aggregate
-- (abcd a,b,c,d adapted to lineitem integer columns).
SELECT CAST(COUNT(1) AS BIGINT) AS n1, CAST(COUNT(*) AS BIGINT) AS nstar,
       CAST(COUNT(l_linenumber) AS BIGINT) AS na,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS da,
       CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS db,
       CAST(COUNT(DISTINCT l_suppkey, l_linenumber) AS BIGINT) AS dab,
       CAST(COUNT(DISTINCT l_linenumber, l_returnflag) AS BIGINT) AS dbc,
       CAST(COUNT(DISTINCT l_suppkey, l_linenumber, l_returnflag) AS BIGINT) AS dabc
FROM lineitem
