-- Ported from limit_pushdown.q: ORDER BY + LIMIT inside a derived
-- table, filtered outside (TopN must happen before the outer filter).
SELECT o_orderkey, o_totalprice
FROM (
  SELECT o_orderkey, o_totalprice FROM orders
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
) t
WHERE o_orderkey % 2 = 0
ORDER BY o_totalprice DESC, o_orderkey
