-- Ported from constant_prop_1.q's tail shapes: an ON-less JOIN whose
-- equality lives in WHERE (a cross join Hive's constant propagation +
-- PPD turn into point lookups on both sides), and the ON-join variant
-- with a pushable filter on the probe side.
SELECT a.o_orderkey AS ak, b.o_orderstatus AS bs
FROM orders a JOIN orders b
WHERE a.o_orderkey = 238 AND b.o_orderkey = 234
