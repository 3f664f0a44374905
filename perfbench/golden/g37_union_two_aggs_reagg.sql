-- Ported from union_remove_6.q:24-31 (union of two grouped subqueries,
-- select-star over the union, re-aggregated downstream — the
-- union->selectstar->filesink optimization shape).
SELECT seg, CAST(SUM(cnt) AS BIGINT) AS total
FROM (
  SELECT c_mktsegment AS seg, COUNT(1) AS cnt FROM customer GROUP BY c_mktsegment
  UNION ALL
  SELECT c_mktsegment AS seg, COUNT(1) AS cnt FROM customer
  WHERE c_acctbal > 0 GROUP BY c_mktsegment
) u
GROUP BY seg
ORDER BY seg
