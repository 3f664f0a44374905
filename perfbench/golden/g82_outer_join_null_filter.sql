-- Ported from ppd_outerjoin shapes: a WHERE predicate on the
-- null-producing side of a LEFT JOIN rejects the null-extended rows —
-- the optimizer may legally convert the join to inner; results must
-- match either way.
SELECT c.c_custkey, o.o_orderkey
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
WHERE o.o_orderstatus = 'F' AND c.c_custkey <= 200
