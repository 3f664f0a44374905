-- Ported from cbo_gby.q: aggregation with mixed DISTINCT and plain
-- aggregates plus a HAVING on an aggregate not projected.
SELECT c_mktsegment,
       COUNT(DISTINCT c_nationkey) AS nk,
       ROUND(SUM(c_acctbal), 2) AS bal
FROM customer
GROUP BY c_mktsegment
HAVING COUNT(*) > 10
