-- Ported from clientpositive/udf_round.q: ROUND at positive and
-- negative scales, plus NULL propagation (results cast to DOUBLE so
-- both dialects agree on the output type).
SELECT ROUND(CAST(NULL AS DOUBLE)) AS r_null,
       CAST(ROUND(55555) AS DOUBLE) AS r0,
       CAST(ROUND(55555, 1) AS DOUBLE) AS r1,
       CAST(ROUND(55555, -1) AS DOUBLE) AS rm1,
       CAST(ROUND(55555, -2) AS DOUBLE) AS rm2,
       CAST(ROUND(55555, -3) AS DOUBLE) AS rm3,
       CAST(ROUND(55555, -4) AS DOUBLE) AS rm4,
       CAST(ROUND(55555, -5) AS DOUBLE) AS rm5
FROM region LIMIT 1
