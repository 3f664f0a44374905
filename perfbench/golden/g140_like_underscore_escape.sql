-- Ported from udf_like.q: LIKE with the _ single-char wildcard and an
-- ESCAPE clause turning % back into a literal — pattern semantics must
-- match exactly.
SELECT COUNT(*) AS n_any,
       CAST(SUM(CASE WHEN c_name LIKE '%1_7%' THEN 1 ELSE 0 END) AS BIGINT)
         AS with_wildcard,
       CAST(SUM(CASE WHEN c_name LIKE '%!%%' ESCAPE '!' THEN 1 ELSE 0 END)
            AS BIGINT) AS literal_percent
FROM customer
