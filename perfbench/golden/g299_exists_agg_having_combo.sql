-- Ported from clientpositive/subquery_exists.q + having.q composition:
-- EXISTS guard under a grouped HAVING query.
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderpriority
HAVING COUNT(*) > 5
