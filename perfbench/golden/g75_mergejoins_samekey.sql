-- Ported from mergejoins.q: three-way join sharing one key — a single
-- shuffle/merge stage in both engines, result multiplicity is the
-- per-key count squared.
SELECT a.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n
FROM orders a
JOIN lineitem b ON a.o_orderkey = b.l_orderkey
JOIN lineitem c ON a.o_orderkey = c.l_orderkey
WHERE a.o_orderkey <= 50
GROUP BY a.o_orderkey
