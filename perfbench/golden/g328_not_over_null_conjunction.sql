-- Ported from clientpositive/folder_predicate.q shape:
-- NOT(x IS NOT NULL AND pred) keeps NULL rows (three-valued NOT).
SELECT v
FROM (SELECT CASE WHEN o_orderkey % 6 = 0 THEN NULL
             ELSE o_orderkey % 6 END AS v
      FROM orders WHERE o_orderkey <= 60) t
WHERE NOT(v IS NOT NULL AND v >= 3)
ORDER BY v
