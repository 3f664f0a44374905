-- Old-style comma joins with WHERE equalities (the pre-ANSI form all
-- over the reference corpus, e.g. join25.q-era scripts and TPC-H
-- queries themselves): three relations, equalities and filters mixed
-- in one WHERE.
SELECT n.n_name AS nation_name,
       COUNT(*) AS n,
       CAST(SUM(o.o_orderkey) AS BIGINT) AS key_sum
FROM customer c, orders o, nation n
WHERE c.c_custkey = o.o_custkey
  AND c.c_nationkey = n.n_nationkey
  AND o.o_orderkey <= 3000
  AND o.o_orderstatus <> 'P'
GROUP BY n.n_name
