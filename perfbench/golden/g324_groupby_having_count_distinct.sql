-- Ported from clientpositive/groupby11.q shape: HAVING over a
-- COUNT(DISTINCT) that is not in the select list.
SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_custkey
HAVING COUNT(DISTINCT o_orderstatus) >= 2
