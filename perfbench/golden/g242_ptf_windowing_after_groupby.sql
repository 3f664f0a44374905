-- ptf.q test 6 (testSWQAndPTFAndGBy): windowing computed OVER the
-- group-by output (each group contributes one row to the window feed).
SELECT p_brand, p_name, p_size,
       RANK() OVER (PARTITION BY p_brand ORDER BY p_name) AS r,
       DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_name) AS dr
FROM part
GROUP BY p_brand, p_name, p_size
