-- Ported from union_top_level.q: per-branch ORDER BY + LIMIT inside
-- derived tables, UNION ALL, then a top-level ORDER BY + LIMIT.
SELECT k, src FROM (
  SELECT * FROM (SELECT o_orderkey AS k, 'hi' AS src FROM orders
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 5) h
  UNION ALL
  SELECT * FROM (SELECT o_orderkey AS k, 'lo' AS src FROM orders
                 ORDER BY o_totalprice ASC, o_orderkey LIMIT 5) l
) u
ORDER BY k
LIMIT 8
