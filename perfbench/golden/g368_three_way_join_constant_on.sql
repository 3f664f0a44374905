-- Ported from join32.q: a three-way join where the third table's ON
-- clause mixes the join equality with constant equality filters (Hive
-- pushes them into the scan; so does Catalyst — the semantics here is
-- that they apply before the join, not as match conditions).
SELECT c.c_custkey AS k, n.n_name AS nation_name, o.o_orderkey AS ok
FROM customer c JOIN orders o ON (c.c_custkey = o.o_custkey)
JOIN nation n ON (c.c_nationkey = n.n_regionkey
                  AND n.n_name = 'NATION_3' AND o.o_orderstatus = 'F')
WHERE o.o_orderkey <= 2000
