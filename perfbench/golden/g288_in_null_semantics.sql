-- Ported from clientpositive/udf_in.q: IN / NOT IN three-valued logic —
-- a NULL in the list poisons NOT IN but not a matching IN.
SELECT 1 IN (1, 2) AS a,
       3 IN (1, 2) AS b,
       (CAST(NULL AS INT) IN (1, 2)) IS NULL AS c,
       1 IN (1, NULL) AS d,
       3 NOT IN (1, 2) AS e,
       (3 NOT IN (1, NULL)) IS NULL AS f
FROM region LIMIT 1
