-- Ported from windowing.q:60-70 (testJoinWithWindowingAndPTF): windows
-- over the OUTPUT of a join (Hive wraps the scan in a noop PTF — a
-- pass-through; the portable spelling is the join itself), rank + a
-- running sum + a lag delta, all over the joined rows.  Adapted:
-- p_brand for p_mfgr; p_partkey tie-break; self-join on p_partkey.
SELECT abc.p_brand, abc.p_name,
       rank() OVER w AS r,
       dense_rank() OVER w AS dr,
       ROUND(abc.p_retailprice, 2) AS price,
       ROUND(SUM(abc.p_retailprice) OVER (PARTITION BY abc.p_brand
             ORDER BY abc.p_name, abc.p_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS s1,
       abc.p_size,
       abc.p_size - CAST(lag(abc.p_size, 1, abc.p_size)
                         OVER (PARTITION BY abc.p_brand
                               ORDER BY abc.p_name, abc.p_partkey)
                    AS INT) AS deltasz
FROM part abc
JOIN part p1 ON abc.p_partkey = p1.p_partkey
WINDOW w AS (PARTITION BY abc.p_brand ORDER BY abc.p_name, abc.p_partkey)
