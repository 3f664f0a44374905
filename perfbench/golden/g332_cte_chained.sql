-- Ported from clientpositive/cte_3.q shape: a CTE consumed by a second
-- CTE, consumed by the main query.
WITH q1 AS (SELECT o_orderkey AS key FROM orders WHERE o_orderkey < 100),
     q2 AS (SELECT key FROM q1 WHERE key % 2 = 0)
SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q2
