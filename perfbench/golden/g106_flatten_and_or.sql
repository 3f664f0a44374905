-- Ported from flatten_and_or.q: deeply nested AND/OR trees the
-- optimizer flattens; the predicate must evaluate identically.
SELECT o_orderkey
FROM orders
WHERE ((o_orderstatus = 'F' AND o_totalprice > 50000)
       OR (o_orderstatus = 'O' AND o_totalprice > 150000)
       OR (o_orderstatus = 'P' AND (o_totalprice > 10000 OR o_orderkey < 50)))
  AND (o_orderkey <= 2000 AND (1 = 1 AND 2 = 2))
