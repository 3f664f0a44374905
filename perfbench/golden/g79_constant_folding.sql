-- Ported from cbo_simple_select.q constant-folding shapes: literal
-- arithmetic, || concatenation, boolean negation, always-true predicate.
SELECT n_nationkey,
       n_name || '_x' AS tag,
       3 * 7 AS c21,
       NOT (n_nationkey < 0) AS pos,
       CAST(n_nationkey AS DOUBLE) / 2 AS half
FROM nation
WHERE 1 = 1 AND n_nationkey BETWEEN 0 AND 24
