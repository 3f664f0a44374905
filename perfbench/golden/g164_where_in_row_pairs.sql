-- Ported from multi_column_in.q, spelled through a composite derived
-- key (DuckDB does not bind row-value IN over a subquery): membership
-- of the (orderkey, first-linenumber) pair set.
SELECT COUNT(*) AS n
FROM lineitem
WHERE l_orderkey * 10 + l_linenumber IN (
  SELECT l_orderkey * 10 + MIN(l_linenumber)
  FROM lineitem
  GROUP BY l_orderkey
)
