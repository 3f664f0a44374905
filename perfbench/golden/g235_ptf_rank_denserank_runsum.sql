-- Ported from clientpositive/ptf.q test 1 (noop PTF is identity — the
-- golden semantics are the windowed projection; p_mfgr adapted to
-- p_brand on the testdata schema).
SELECT p_brand, p_name, p_size,
       RANK() OVER (PARTITION BY p_brand ORDER BY p_name) AS r,
       DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_name) AS dr,
       ROUND(SUM(p_retailprice) OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS s1
FROM part
