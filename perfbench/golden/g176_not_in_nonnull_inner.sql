-- Ported from subquery_notin.q's safe leg: NOT IN whose inner set is
-- provably non-NULL (primary key), so the null-aware anti join reduces
-- to a plain anti join and returns real rows.
SELECT n_name, COUNT(*) AS n
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderstatus = 'O')
GROUP BY n_name
