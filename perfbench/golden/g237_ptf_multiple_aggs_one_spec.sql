-- ptf.q test 8 (testMultipleInserts shape, single dest): several
-- window aggregates sharing one partition spec.
SELECT p_brand, p_name, p_size,
       COUNT(*) OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd,
       MIN(p_size) OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mi,
       MAX(p_size) OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ma
FROM part
