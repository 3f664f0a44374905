-- Ported from clientpositive/join38.q shape: join narrowed by an
-- IN-list on the probe side, then grouped counts.
SELECT l.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH') AND l.l_quantity > 25
GROUP BY l.l_returnflag
