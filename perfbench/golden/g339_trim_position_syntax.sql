-- SQL-standard TRIM(LEADING/TRAILING/BOTH ... FROM ...) and
-- POSITION(needle IN haystack) syntactic forms.
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       TRIM(LEADING 'A' FROM MIN(r_name)) AS t_lead,
       TRIM(TRAILING 'A' FROM MIN(r_name)) AS t_trail,
       TRIM(BOTH 'A' FROM MIN(r_name)) AS t_both,
       CAST(MAX(POSITION('ER' IN r_name)) AS BIGINT) AS pos_er
FROM region
