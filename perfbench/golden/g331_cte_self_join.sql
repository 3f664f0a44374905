-- Ported from clientpositive/cte_mat_1.q: a CTE joined with itself
-- (Hive materializes it once with hive.optimize.cte.materialize.threshold).
WITH q1 AS (SELECT o_orderkey AS key FROM orders WHERE o_orderkey < 50)
SELECT a.key
FROM q1 a JOIN q1 b ON a.key = b.key
ORDER BY a.key
