-- join_filters.q core semantics: a preserved-side predicate inside the
-- ON of an outer join gates MATCHES only (unmatched preserved rows
-- survive with NULLs), while the same predicate in WHERE filters rows —
-- the matrix both engines must agree on
WITH myinput1 AS (
  SELECT * FROM (VALUES (12, 35), (48, 40), (100, 100), (40, 40),
                        (CAST(NULL AS INT), 40), (48, CAST(NULL AS INT)),
                        (CAST(NULL AS INT), CAST(NULL AS INT))) AS v(key, value)
)
SELECT 'on_gates_match' AS tag, a.key AS ak, a.value AS av,
       b.key AS bk, b.value AS bv
FROM myinput1 a LEFT OUTER JOIN myinput1 b
  ON a.key = b.value AND a.key > 40 AND b.value > 50
UNION ALL
SELECT 'where_filters', a.key, a.value, b.key, b.value
FROM myinput1 a LEFT OUTER JOIN myinput1 b ON a.key = b.value
WHERE a.key > 40
UNION ALL
SELECT 'full_both_sides', a.key, a.value, b.key, b.value
FROM myinput1 a FULL OUTER JOIN myinput1 b
  ON a.key = b.value AND a.value > 50 AND b.key > 40
