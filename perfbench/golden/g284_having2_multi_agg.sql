-- Ported from clientpositive/having2.q: HAVING over several aggregates
-- with mixed comparison directions (customer/order shapes adapted).
SELECT o_custkey,
       ROUND(SUM(o_totalprice), 2) AS total,
       CAST(COUNT(*) AS BIGINT) AS n,
       MAX(o_orderpriority) AS maxp
FROM orders
GROUP BY o_custkey
HAVING SUM(o_totalprice) > 300000 AND COUNT(*) >= 3 AND MAX(o_orderpriority) > '2'
