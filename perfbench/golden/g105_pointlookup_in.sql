-- pointlookup.q shape: a wide IN list over (possibly compound) keys —
-- Hive's PointLookupOptimizer turns it into an IN(struct()); Catalyst
-- OptimizeIn turns it into a hash-set probe
SELECT o_orderkey, o_orderstatus
FROM orders
WHERE o_orderkey IN (1,2,3,5,7,11,13,17,19,23,29,31,37,41,43,47,53,59,
                     61,67,71,73,79,83,89,97,101,103,107,109,113,127)
   OR (o_orderstatus = 'P' AND o_orderkey IN (128,129,130,131))
