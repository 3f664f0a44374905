-- Ported from ppd_join.q / ppd_gby.q shape: predicates written ABOVE a
-- join that the optimizer must push to both sides (PPD — Hive's
-- optimizer/ppd/OpProcFactory.java; Catalyst PushDownPredicate).
SELECT c_custkey, o_orderkey, o_totalprice
FROM customer JOIN orders ON c_custkey = o_custkey
WHERE c_acctbal > 5000 AND o_totalprice > 100000 AND c_custkey <= 800
ORDER BY c_custkey, o_orderkey
