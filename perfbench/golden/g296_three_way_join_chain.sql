-- Ported from clientpositive/join2.q / join3.q shapes: a three-table
-- chain where the third join key is an expression over the first two.
SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(l.l_extendedprice), 2) AS rev
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_linenumber + 0 = l.l_linenumber AND c.c_custkey % 2 = 0
GROUP BY c.c_mktsegment
