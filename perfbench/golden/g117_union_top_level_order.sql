-- union_top_level.q: per-branch ORDER BY ... LIMIT inside a top-level
-- UNION ALL, plus an outer global order over the union result
SELECT * FROM (
  SELECT o_orderkey AS k, 'first' AS src FROM orders
  ORDER BY o_orderkey LIMIT 10
) a
UNION ALL
SELECT * FROM (
  SELECT o_orderkey, 'last' FROM orders
  ORDER BY o_orderkey DESC LIMIT 10
) b
ORDER BY k, src
