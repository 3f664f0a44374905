-- Ported from constantPropagateForSubQuery.q: an equality-to-constant
-- predicate inside a derived table propagates across a cross-ish join;
-- both sides of the alias chain survive.
SELECT c.ak, c.av, c.bk
FROM (
  SELECT a.o_orderkey AS ak, a.o_orderstatus AS av, b.n_nationkey AS bk
  FROM orders a CROSS JOIN nation b
  WHERE a.o_orderkey = 429 AND b.n_nationkey < 5
) c
