-- Ported from subquery_exists.q's NOT EXISTS variant: correlated
-- anti-join semantics through the subquery surface.
SELECT c_custkey, c_name
FROM customer c
WHERE c_custkey <= 300
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 100000)
