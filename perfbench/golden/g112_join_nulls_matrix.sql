-- join_nulls.q matrix (clientpositive): NULL join keys never match in
-- inner/left/right/full equi-joins; every branch tagged and unioned
WITH myinput1 AS (
  SELECT * FROM (VALUES (CAST(NULL AS INT), CAST(NULL AS INT)),
                        (1, NULL), (NULL, 10), (10, 100), (48, 12),
                        (100, 100)) AS v(key, value)
)
SELECT 'inner_kv' AS tag, a.key AS ak, a.value AS av, b.key AS bk, b.value AS bv
FROM myinput1 a JOIN myinput1 b ON a.key = b.value
UNION ALL
SELECT 'left_vv', a.key, a.value, b.key, b.value
FROM myinput1 a LEFT OUTER JOIN myinput1 b ON a.value = b.value
UNION ALL
SELECT 'right_kk', a.key, a.value, b.key, b.value
FROM myinput1 a RIGHT OUTER JOIN myinput1 b ON a.key = b.key
UNION ALL
SELECT 'full_kv', a.key, a.value, b.key, b.value
FROM myinput1 a FULL OUTER JOIN myinput1 b ON a.key = b.value
UNION ALL
SELECT 'full_2key', a.key, a.value, b.key, b.value
FROM myinput1 a FULL OUTER JOIN myinput1 b
  ON a.value = b.value AND a.key = b.key
UNION ALL
SELECT 'cross', a.key, a.value, b.key, b.value
FROM myinput1 a CROSS JOIN myinput1 b
