-- Ported from udf_greatest.q: GREATEST/LEAST over columns and literals.
-- Hive 2.1's GenericUDFGreatest/Least PROPAGATE a NULL argument (the
-- engine implements that), DuckDB's skip NULLs — so the NULL-argument
-- rows are made explicit with CASE, which both engines agree on.
SELECT p_partkey,
       GREATEST(p_size, 25) AS g1,
       LEAST(p_size, 10) AS l1,
       CASE WHEN p_size > 25 THEN GREATEST(p_size, 30) END AS g_cond,
       LEAST(p_size, p_partkey, 40) AS l_multi
FROM part WHERE p_partkey <= 100
