-- Ported from join_cond_pushdown_unqual1.q: unqualified column names in
-- a multi-table ON clause — the analyzer must resolve each bare name to
-- the correct side and push single-table conjuncts below the join.
SELECT c_custkey, o_orderkey
FROM customer JOIN orders
  ON c_custkey = o_custkey AND o_totalprice > 150000 AND c_acctbal > 0
WHERE o_orderkey <= 2000
