-- Ported from correlationoptimizer1.q: the "correlation" shape — two
-- aggregations over the SAME grouping key joined back together.  Hive's
-- CorrelationOptimizer collapses the duplicate shuffle; Catalyst gets the
-- same effect via ReuseExchange on the identical child plans.
SELECT a.o_custkey, a.cnt, b.total
FROM (SELECT o_custkey, COUNT(*) AS cnt
      FROM orders GROUP BY o_custkey) a
JOIN (SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total
      FROM orders GROUP BY o_custkey) b
  ON a.o_custkey = b.o_custkey
WHERE a.cnt > 3
