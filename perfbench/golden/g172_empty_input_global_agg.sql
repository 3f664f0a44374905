-- Ported from the empty-aggregate edge (groupby over zero rows): a
-- global aggregate over an impossible predicate still returns ONE row
-- — COUNT 0, SUM/MIN/MAX NULL.
SELECT COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS s,
       MIN(o_orderdate) AS mn,
       MAX(o_orderstatus) AS mx
FROM orders
WHERE o_orderkey < 0
