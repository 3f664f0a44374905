-- semijoin2.q family: LEFT SEMI JOIN composed with an outer join and
-- a residual filter in the same FROM chain
SELECT n.n_name, CAST(COUNT(c.c_custkey) AS BIGINT) AS n_cust
FROM nation n
LEFT SEMI JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name <> 'EUROPE'
LEFT OUTER JOIN customer c ON n.n_nationkey = c.c_nationkey
  AND c.c_acctbal > 0
GROUP BY n.n_name
