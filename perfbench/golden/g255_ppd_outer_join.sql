-- Ported from clientpositive/ppd_outer_join1.q: left outer join with
-- range predicates on both sides in WHERE — the outer-side predicate
-- is pushable, the null-supplying side filter effectively converts
-- semantics exactly as Hive's PPD documents.
SELECT a.o_orderkey, a.o_orderpriority, b.l_linenumber
FROM orders a LEFT OUTER JOIN lineitem b ON a.o_orderkey = b.l_orderkey
WHERE a.o_orderkey > 10 AND a.o_orderkey < 100 AND b.l_linenumber > 2
