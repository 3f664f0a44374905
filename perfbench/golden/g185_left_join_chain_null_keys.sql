-- Ported from the outer-join-chain shapes (join40.q family): the second
-- LEFT JOIN keys off the first join's null-supplying side — NULL keys
-- must not match anything downstream.
SELECT c.c_mktsegment,
       COUNT(*) AS n_rows,
       COUNT(o.o_orderkey) AS n_orders,
       COUNT(l.l_orderkey) AS n_lines
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'P'
LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey AND l.l_linenumber = 1
GROUP BY c.c_mktsegment
