-- Ported from udf_substr.q / udf_instr.q / udf_lpad.q family: positional
-- string functions on the shared 1-based semantics.
SELECT n_nationkey,
       SUBSTR(n_name, 2, 3) AS s1,
       CAST(INSTR(n_name, 'A') AS BIGINT) AS pos_a,
       LPAD(n_name, 12, '.') AS lp,
       RPAD(n_name, 4, '-') AS rp,
       REVERSE(n_name) AS rev,
       CAST(LENGTH(n_name) AS BIGINT) AS len,
       LOWER(n_name) AS lo,
       CONCAT_WS('-', n_name, LOWER(n_name)) AS cw
FROM nation
