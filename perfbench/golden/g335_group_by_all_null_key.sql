-- Ported from clientpositive/nullgroup3.q shape: GROUP BY over a key
-- that is NULL for every row still yields one NULL group.
SELECT k, CAST(COUNT(1) AS BIGINT) AS n
FROM (SELECT CASE WHEN o_orderkey > 0 THEN NULL ELSE 'x' END AS k
      FROM orders WHERE o_orderkey <= 20) t
GROUP BY k
