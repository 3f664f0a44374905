-- join_cond_pushdown_1.q shape: non-column join conditions (expression
-- on each side, plus a single-table predicate inside the ON) — Hive
-- pushes the unqualified single-table conjunct to the child
SELECT c.c_custkey, o.o_orderkey
FROM customer c JOIN orders o
  ON c.c_custkey + 1 = o.o_custkey + 1
 AND o.o_orderstatus = 'F'
WHERE c.c_custkey < 50
