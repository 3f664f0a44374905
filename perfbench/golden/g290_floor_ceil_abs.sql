-- Ported from clientpositive/udf_floor.q + udf_ceil.q + udf_abs.q:
-- integral rounding and absolute value on positive/negative doubles.
SELECT CAST(FLOOR(3.7) AS BIGINT) AS f1, CAST(FLOOR(-3.7) AS BIGINT) AS f2,
       CAST(CEIL(3.2) AS BIGINT) AS c1, CAST(CEIL(-3.2) AS BIGINT) AS c2,
       ABS(-17) AS a1, ABS(17) AS a2, ROUND(ABS(-3.125), 3) AS a3
FROM region LIMIT 1
