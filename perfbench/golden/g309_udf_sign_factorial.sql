-- Ported from clientpositive/udf_sign.q + udf_factorial.q.
SELECT CAST(SIGN(-5) AS DOUBLE) AS s_neg,
       CAST(SIGN(0) AS DOUBLE) AS s_zero,
       CAST(SIGN(3.2) AS DOUBLE) AS s_pos,
       FACTORIAL(5) AS f5, FACTORIAL(0) AS f0
FROM region LIMIT 1
