-- Ported from ptf.q case 14 (testPTFJoinWithWindowingWithCount): a join
-- feeding ranking, running sum, and lag with a default-to-self column
-- (deltaSz = p_size - lag(p_size, 1, p_size)).
SELECT abc.p_brand, abc.p_name,
       CAST(RANK() OVER (PARTITION BY abc.p_brand ORDER BY abc.p_name, abc.p_partkey) AS INT) AS r,
       COUNT(abc.p_name) OVER (PARTITION BY abc.p_brand ORDER BY abc.p_name, abc.p_partkey) AS cd,
       ROUND(SUM(abc.p_retailprice) OVER (PARTITION BY abc.p_brand ORDER BY abc.p_name, abc.p_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS s1,
       abc.p_size,
       abc.p_size - LAG(abc.p_size, 1, abc.p_size) OVER
             (PARTITION BY abc.p_brand ORDER BY abc.p_name, abc.p_partkey) AS deltasz
FROM part abc JOIN part p1 ON abc.p_partkey = p1.p_partkey
