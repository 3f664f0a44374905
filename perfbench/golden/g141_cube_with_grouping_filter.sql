-- Ported from groupby_cube1.q: CUBE with multiple aggregates, the
-- subtotal tier selected by GROUPING() in an outer filter.
SELECT k1, k2, n, mx
FROM (
  SELECT o_orderstatus AS k1, o_orderpriority AS k2,
         COUNT(*) AS n, ROUND(MAX(o_totalprice), 2) AS mx,
         CAST(GROUPING(o_orderstatus) AS INT) +
         CAST(GROUPING(o_orderpriority) AS INT) AS lvl
  FROM orders
  GROUP BY CUBE (o_orderstatus, o_orderpriority)
) t
WHERE lvl = 1
