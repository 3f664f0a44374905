-- Ported from the permissive-cast surface (q55) in its explicit ANSI
-- TRY_CAST spelling: junk strings become NULL, numeric substrings
-- convert — counted, never erroring.
SELECT COUNT(*) AS n,
       COUNT(TRY_CAST(c_name AS INT)) AS whole_name_numeric,
       COUNT(TRY_CAST(split_part(c_name, '#', 2) AS INT)) AS suffix_numeric,
       CAST(SUM(COALESCE(TRY_CAST(split_part(c_name, '#', 2) AS BIGINT), 0))
            AS BIGINT) AS suffix_sum
FROM customer
