-- Ported from clientpositive/udf_exp.q / udf_ln.q / udf_sqrt.q /
-- udf_power.q: transcendental battery rounded to stable precision.
SELECT ROUND(EXP(1), 9) AS e1, ROUND(LN(EXP(2)), 9) AS l1,
       ROUND(SQRT(64), 9) AS s1, ROUND(POWER(2, 10), 9) AS p1,
       ROUND(LOG10(1000), 9) AS lg, ROUND(LOG2(8), 9) AS l2
FROM region LIMIT 1
