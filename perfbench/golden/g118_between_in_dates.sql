-- Ported from vector_between_in.q: BETWEEN over DATE literals and IN over
-- an integer list, both as filters and inside conditional aggregation.
SELECT l_returnflag,
       COUNT(*) AS n,
       SUM(CASE WHEN l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
                THEN 1 ELSE 0 END) AS n95
FROM lineitem
WHERE l_linenumber IN (1, 3, 5)
GROUP BY l_returnflag
