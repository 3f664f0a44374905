-- Ported from join46.q: LEFT JOIN whose ON clause carries an extra
-- non-equi predicate — rows of the preserved side must survive with
-- NULLs when only the residual condition fails.
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c
LEFT JOIN orders o
  ON c.c_custkey = o.o_custkey AND o.o_totalprice > 150000
WHERE c.c_custkey <= 100
