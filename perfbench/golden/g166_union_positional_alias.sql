-- Ported from union_pos_alias.q: UNION branches with mismatched column
-- aliases — the FIRST branch names the output; downstream references
-- use those names.
SELECT k, SUM(v) AS total
FROM (
  SELECT o_orderstatus AS k, o_totalprice AS v FROM orders
  UNION ALL
  SELECT o_orderpriority, o_totalprice * 0 FROM orders
) u
GROUP BY k
HAVING SUM(v) >= 0
