-- join_nulls.q chained form: LEFT then RIGHT outer joins over the same
-- null-laden table — associativity + null propagation through the chain
WITH myinput1 AS (
  SELECT * FROM (VALUES (CAST(NULL AS INT), CAST(NULL AS INT)),
                        (1, NULL), (NULL, 10), (10, 100),
                        (100, 100)) AS v(key, value)
)
SELECT a.key AS ak, a.value AS av, b.key AS bk, b.value AS bv,
       c.key AS ck, c.value AS cv
FROM myinput1 a
LEFT OUTER JOIN myinput1 b ON a.value = b.value
RIGHT OUTER JOIN myinput1 c ON b.value = c.value
