-- join_cond_pushdown_2.q shape: four-way join where one condition is a
-- residual filter (inequality) that must stay ON the join, not push to
-- either scan.
SELECT p1.p_partkey, p2.p_partkey AS k2, s.s_suppkey
FROM part p1
JOIN part p2 ON p1.p_name = p2.p_name
JOIN supplier s ON p1.p_partkey % 100 = s.s_suppkey AND p2.p_size < p1.p_size + 1
WHERE p1.p_partkey <= 50
