-- Ported from udf_split.q in its split_part form: delimiter-indexed
-- field extraction used as a join-free derived key.
SELECT substr(split_part(c_name, '#', 2), 9, 1) AS last_digit,
       COUNT(*) AS n,
       CAST(MIN(TRY_CAST(split_part(c_name, '#', 2) AS BIGINT)) AS BIGINT)
         AS min_suffix
FROM customer
GROUP BY substr(split_part(c_name, '#', 2), 9, 1)
