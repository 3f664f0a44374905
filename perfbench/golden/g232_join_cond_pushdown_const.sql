-- join_cond_pushdown_1.q fourth shape: a constant equality on one join
-- input (p2.p_partkey = 1) — pushdown should turn it into a filter on
-- p2's scan, leaving a cross-shaped join with p1.
SELECT p1.p_partkey AS k1, p2.p_partkey AS k2, p3.p_partkey AS k3
FROM part p1
JOIN part p2 ON p2.p_partkey = 1
JOIN part p3 ON p3.p_name = p2.p_name
WHERE p1.p_partkey <= 3
