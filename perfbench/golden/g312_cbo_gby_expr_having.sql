-- Ported from clientpositive/cbo_gby.q shape: grouping on an
-- expression with HAVING over a different aggregate.
SELECT l_orderkey % 10 AS kmod,
       ROUND(SUM(l_extendedprice), 2) AS rev
FROM lineitem
GROUP BY l_orderkey % 10
HAVING COUNT(*) > 100
