-- join_cond_pushdown_1.q second shape: same chain with operand order
-- reversed — the optimizer must normalize and push identically.
SELECT p1.p_partkey AS k1, p2.p_partkey AS k2, p3.p_partkey AS k3
FROM part p1
JOIN part p2 ON p2.p_name = p1.p_name
JOIN part p3 ON p3.p_name = p2.p_name
