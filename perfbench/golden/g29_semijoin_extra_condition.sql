-- Ported from semijoin.q:29 ("on a.key = b.key and b.value < 'val_10'"):
-- semi join with a non-key predicate on the right side inside ON.
SELECT c_custkey, ROUND(c_acctbal, 2) AS bal
FROM customer SEMI JOIN orders
  ON c_custkey = o_custkey AND o_totalprice < 50000
