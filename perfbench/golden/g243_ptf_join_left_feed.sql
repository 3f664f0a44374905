-- ptf.q test 7 (testJoin): the PTF output joined back to the base table
-- (noop identity inlined as a derived table).
SELECT abc.p_partkey, abc.p_name, abc.p_size
FROM (SELECT * FROM part) abc
JOIN part p1 ON abc.p_partkey = p1.p_partkey
