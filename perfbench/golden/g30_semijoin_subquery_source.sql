-- Ported from semijoin.q:38 ("left semi join (select key from t3 where
-- key > 5) b"): the right side is a filtered derived table.
SELECT c_name
FROM customer SEMI JOIN
  (SELECT o_custkey FROM orders WHERE o_totalprice > 100000) big
  ON c_custkey = big.o_custkey
