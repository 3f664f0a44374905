-- Ported from clientpositive/udf_degrees.q + udf_radians.q.
SELECT ROUND(DEGREES(PI()), 6) AS d180,
       ROUND(RADIANS(180) - PI(), 9) AS r_pi_delta,
       ROUND(DEGREES(PI() / 2), 6) AS d90
FROM region LIMIT 1
