-- Ported from subquery_in_having.q: an uncorrelated scalar subquery as
-- the HAVING threshold — groups larger than 1.2x the mean group size.
SELECT o_custkey, COUNT(*) AS n
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) > (SELECT COUNT(*) * 1.2 / COUNT(DISTINCT o_custkey)
                   FROM orders)
