-- ppd_outer_join2.q shape: RIGHT OUTER JOIN with range predicates on
-- BOTH sides in the WHERE — the null-supplying side's predicate makes
-- the join effectively inner; Hive's PPD pushes both below the join
SELECT a.o_orderkey AS akey, a.o_orderstatus AS astat,
       b.l_linenumber AS bline
FROM orders a
RIGHT OUTER JOIN lineitem b ON a.o_orderkey = b.l_orderkey
WHERE a.o_orderkey > 10 AND a.o_orderkey < 200
  AND b.l_linenumber > 1 AND b.l_linenumber < 5
