-- Ported from pointlookup.q / pointlookup2.q (PointLookupOptimizer.java:
-- hive.optimize.point.lookup rewrites a disjunction of equality pairs to
-- IN over (key, value) structs).  Catalyst's OptimizeIn does the same
-- rewrite; the result set must be identical either way.
SELECT o_orderkey AS k
FROM orders
WHERE ((o_orderkey = 1 AND o_orderstatus = 'O')
    OR (o_orderkey = 2 AND o_orderstatus = 'F')
    OR (o_orderkey = 3 AND o_orderstatus = 'F')
    OR (o_orderkey = 4 AND o_orderstatus = 'O')
    OR (o_orderkey = 5 AND o_orderstatus = 'P')
    OR (o_orderkey = 32 AND o_orderstatus = 'O')
    OR (o_orderkey = 33 AND o_orderstatus = 'F')
    OR (o_orderkey = 34 AND o_orderstatus = 'O')
    OR (o_orderkey = 35 AND o_orderstatus = 'O')
    OR (o_orderkey = 36 AND o_orderstatus = 'O')
    OR (o_orderkey = 37 AND o_orderstatus = 'O'))
