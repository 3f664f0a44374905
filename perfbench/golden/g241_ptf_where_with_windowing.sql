-- ptf.q test 5 (testPTFAndWhereWithWindowing): rank/dense_rank/lag
-- family over one spec with a WHERE on the feed.
SELECT p_brand, p_name, p_size,
       RANK() OVER (PARTITION BY p_brand ORDER BY p_name) AS r,
       DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_name) AS dr,
       p_size - LAG(p_size, 1, p_size) OVER
         (PARTITION BY p_brand ORDER BY p_name, p_partkey) AS deltaSz
FROM part WHERE p_size > 10
