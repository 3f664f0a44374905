-- Ported from mapjoin_filter_on_outerjoin.q / ppd_outer_join4.q
-- semantics: a LEFT OUTER join where the WHERE filters on (a) the
-- preserved side and (b) IS NULL of the null-producing side — the
-- anti-join-via-outer-join idiom.  The IS NULL conjunct must NOT be
-- pushed as a join condition.
SELECT c.c_custkey AS k, c.c_mktsegment AS seg
FROM customer c
LEFT OUTER JOIN (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_totalprice > 100000) big
  ON c.c_custkey = big.o_custkey
WHERE big.o_custkey IS NULL AND c.c_acctbal > 9000
