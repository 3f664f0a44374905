-- ptf.q test 14 (testPTFJoinWithWindowingWithCount): count + ranking
-- windows over a join feed.
SELECT abc.p_brand, abc.p_name,
       RANK() OVER (PARTITION BY abc.p_brand ORDER BY abc.p_name) AS r,
       COUNT(*) OVER (PARTITION BY abc.p_brand ORDER BY abc.p_name, abc.p_partkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd,
       p1.p_size
FROM part abc JOIN part p1 ON abc.p_partkey = p1.p_partkey
