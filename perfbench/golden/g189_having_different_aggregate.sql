-- Ported from having.q's cross-aggregate leg: HAVING filters on an
-- aggregate of a DIFFERENT column than any select-list aggregate.
SELECT o_custkey, COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
HAVING MAX(o_totalprice) > 350000 AND MIN(o_orderkey) >= 0
