-- Ported from clientpositive/union_remove_1.q shape: UNION ALL of two
-- aggregates over the same source re-aggregated above (the
-- union-remove optimization target).
SELECT key, CAST(SUM(cnt) AS BIGINT) AS total
FROM (
  SELECT l_returnflag AS key, COUNT(1) AS cnt FROM lineitem GROUP BY l_returnflag
  UNION ALL
  SELECT l_returnflag AS key, COUNT(1) AS cnt FROM lineitem GROUP BY l_returnflag
) t
GROUP BY key
