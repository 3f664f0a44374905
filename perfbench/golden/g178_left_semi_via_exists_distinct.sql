-- Ported from semijoin.q's DISTINCT-source leg: EXISTS against a
-- deduplicated derived table — the semi join must not multiply rows
-- regardless of how many inner matches exist.
SELECT s_nationkey, COUNT(*) AS n_suppliers
FROM supplier s
WHERE EXISTS (
  SELECT DISTINCT l_suppkey FROM lineitem
  WHERE l_suppkey = s.s_suppkey AND l_quantity >= 30
)
GROUP BY s_nationkey
