-- Ported from the predicate-pushdown .q family (ppd_*.q): BETWEEN, IN,
-- LIKE and a negation combined in one WHERE — the full filter menu a
-- scan-level pushdown must evaluate identically.
SELECT l_returnflag, COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) AS sq
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 40
  AND l_linenumber IN (1, 2, 4)
  AND l_returnflag LIKE '%'
  AND NOT (l_discount > 0.08)
GROUP BY l_returnflag
