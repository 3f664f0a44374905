-- Ported from union_ppr / groupby-over-union shapes: GROUP BY applied
-- on top of a UNION ALL of two differently-filtered scans.
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(o_totalprice), 2) AS DOUBLE) AS total
FROM (
  SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 1
) u
GROUP BY o_orderstatus
