-- Ported from semijoin.q:17 ("t1 a left semi join t2 b on a.key=b.key"):
-- the basic IN-rewrite shape (LeftSemiJoinOperator), adapted to
-- customer SEMI JOIN orders on custkey.
SELECT c_custkey, c_mktsegment
FROM customer SEMI JOIN orders ON c_custkey = o_custkey
