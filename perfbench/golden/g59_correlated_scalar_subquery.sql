-- Ported from subquery_scalar.q: correlated scalar subquery in the
-- select list (per-row aggregate lookup).
SELECT n_nationkey, n_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
        WHERE c.c_nationkey = n.n_nationkey) AS n_customers
FROM nation n
ORDER BY n_nationkey
