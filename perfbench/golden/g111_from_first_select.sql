-- ppd_outer_join2.q statement form: Hive's inverted FROM-first syntax
-- (FROM <joins> SELECT <cols> WHERE <preds>) — accepted verbatim by
-- both engines; predicates on the null-supplying side push below the
-- outer join making it effectively inner
FROM orders a
RIGHT OUTER JOIN customer b ON a.o_custkey = b.c_custkey
SELECT a.o_orderkey AS okey, b.c_custkey AS ckey
WHERE a.o_orderkey > 10 AND a.o_orderkey < 100
