-- Ported from clientpositive/udf_trim.q + udf_ltrim.q + udf_rtrim.q:
-- whitespace trimming over expressions and a real column.
SELECT n_nationkey AS k,
       TRIM(CONCAT('  ', n_name, '  ')) AS t,
       LTRIM(CONCAT('  ', n_name)) AS lt,
       RTRIM(CONCAT(n_name, '  ')) AS rt
FROM nation ORDER BY k
