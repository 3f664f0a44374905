-- Ported from groupby_map_ppr.q: MIN/MAX over STRING columns (binary
-- collation order must agree) alongside numeric aggregates, with a
-- computed predicate.
SELECT c_nationkey,
       MIN(c_name) AS first_name,
       MAX(c_name) AS last_name,
       MIN(c_mktsegment) AS seg_lo,
       COUNT(*) AS n
FROM customer
WHERE MOD(c_custkey, 3) = 0
GROUP BY c_nationkey
