-- ptf.q chained-noop shape (test 15): two layers of derived tables,
-- window applied after re-partitioned ordering survives both
-- (p_partkey carried through as a deterministic tie-break key).
SELECT p_brand, p_name,
       LEAD(p_size, 1) OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey) AS next_size
FROM (SELECT * FROM (SELECT p_brand, p_name, p_size, p_partkey FROM part) a) b
