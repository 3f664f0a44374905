-- Ported from clientpositive/udf_coalesce.q + udf_if.q: COALESCE over
-- typed NULL chains and IF with NULL branches.
SELECT COALESCE(NULL, NULL, 5) AS c1,
       COALESCE(NULL, 'b', 'c') AS c2,
       COALESCE(NULL, NULL) IS NULL AS c3,
       IF(1 = 1, 'yes', 'no') AS i1,
       IF(1 = 2, 'yes', 'no') AS i2,
       IF(NULL, 'yes', 'no') AS i3
FROM region LIMIT 1
