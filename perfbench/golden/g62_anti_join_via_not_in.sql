-- Ported from subquery_notin.q (non-corr, non-null inner): NOT IN over
-- a derived key set behaves as anti-join when the inner is null-free.
SELECT s_suppkey, s_nationkey
FROM supplier
WHERE s_nationkey NOT IN (SELECT r_regionkey FROM region)
  AND s_suppkey <= 100
ORDER BY s_suppkey
