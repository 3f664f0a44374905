-- Ported from correlationoptimizer6.q: a join of two grouped subqueries
-- on the grouping key (Hive merges the three jobs when
-- hive.optimize.correlation=true; Catalyst co-partitions both aggregates
-- on the join key so the join itself adds no exchange).
SELECT a.key AS k, a.cnt AS cnt1, b.cnt AS cnt2
FROM (SELECT o_custkey AS key, COUNT(1) AS cnt
      FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) a
JOIN (SELECT o_custkey AS key, COUNT(1) AS cnt
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) b
  ON a.key = b.key
WHERE a.cnt >= 2 AND b.cnt >= 2
