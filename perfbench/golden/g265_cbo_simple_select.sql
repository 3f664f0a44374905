-- Ported from clientpositive/cbo_simple_select.q shapes: projection,
-- arithmetic on the select list, predicate combos, and a scalar
-- boolean column the optimizer constant-folds.
SELECT c_custkey + 1 AS kplus, c_acctbal * 2 AS bal2,
       c_custkey > 50 AND c_acctbal < 1000 AS both_cond
FROM customer WHERE (c_custkey < 120 OR c_acctbal > 9000) AND c_custkey <= 300
