-- Ported from ppd_outer_join / louter_join_ppd.q: a WHERE predicate on
-- the null-supplying side of a LEFT JOIN discards the padded rows and
-- must degrade the join to inner semantics — contrast with the ON-clause
-- placement (g56 family), which keeps every preserved row.
SELECT c.c_mktsegment, COUNT(*) AS n
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
WHERE o.o_orderstatus = 'O'
GROUP BY c.c_mktsegment
