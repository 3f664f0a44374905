-- Ported from clientpositive/udf_repeat.q + udf_reverse.q over column
-- values.
SELECT r_regionkey AS k,
       REPEAT(r_name, 2) AS rep,
       REVERSE(r_name) AS rev,
       REPEAT(' ', CAST(r_regionkey AS INT)) || 'x' AS spaced
FROM region ORDER BY k
