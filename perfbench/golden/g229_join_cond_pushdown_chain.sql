-- Ported from clientpositive/join_cond_pushdown_1.q: three-way self
-- join with the equality chain on the middle table (Hive writes the
-- conditions in one trailing ON; ANSI per-join spelling here — the
-- Hive single-ON statement form is pinned Spark-side in
-- tests/test_functions.py::test_hive_multijoin_single_on_form).
SELECT p1.p_partkey AS k1, p2.p_partkey AS k2, p3.p_partkey AS k3
FROM part p1
JOIN part p2 ON p1.p_name = p2.p_name
JOIN part p3 ON p2.p_name = p3.p_name
