-- Ported from the udf_trim/udf_lpad/udf_rpad/udf_repeat/udf_reverse
-- family: a digest over the shared string-function surface — every
-- engine-visible value flows into aggregates so a single drifting
-- function flips the hash.
SELECT COUNT(*) AS n,
       CAST(SUM(LENGTH(TRIM(CONCAT('  ', c_name, '  ')))) AS BIGINT) AS trimmed,
       CAST(SUM(LENGTH(LPAD(c_mktsegment, 12, '*'))) AS BIGINT) AS lpadded,
       CAST(SUM(LENGTH(RPAD(c_mktsegment, 3, 'x'))) AS BIGINT) AS rpadded,
       CAST(SUM(LENGTH(REPEAT(c_mktsegment, 2))) AS BIGINT) AS repeated,
       CAST(SUM(CASE WHEN REVERSE(c_name) = c_name THEN 1 ELSE 0 END) AS BIGINT)
         AS palindromes,
       CAST(SUM(LENGTH(REPLACE(c_name, '#', ''))) AS BIGINT) AS replaced
FROM customer
WHERE c_custkey <= 500
