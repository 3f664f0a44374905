-- ptf.q test 2 (testJoinWithNoop): lag with a default value over a
-- self-join feed, distribute/sort expressed as the window spec.
SELECT p_brand, p_name, p_size,
       p_size - LAG(p_size, 1, p_size) OVER
         (PARTITION BY p_brand ORDER BY p_name, p_partkey) AS deltaSz
FROM (SELECT p1.* FROM part p1 JOIN part p2 ON p1.p_partkey = p2.p_partkey) j
