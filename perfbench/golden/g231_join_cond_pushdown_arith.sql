-- join_cond_pushdown_1.q third shape: an arithmetic join predicate
-- (p2.p_partkey + p1.p_partkey = p1.p_partkey forces p2.p_partkey = 0,
-- i.e. empty) combined with a name-chain condition.
SELECT COUNT(*) AS n
FROM part p1
JOIN part p2 ON p2.p_partkey + p1.p_partkey = p1.p_partkey
JOIN part p3 ON p3.p_name = p2.p_name
