-- Ported from the non-equi theta-join shapes (join46.q family): a
-- bounded band predicate between two small dimension scans — results
-- must agree even though the plan is a nested-loop at this size.
SELECT a.n_nationkey AS k1, b.n_nationkey AS k2
FROM nation a
JOIN nation b
  ON b.n_nationkey BETWEEN a.n_nationkey + 1 AND a.n_nationkey + 3
WHERE a.n_regionkey = b.n_regionkey
