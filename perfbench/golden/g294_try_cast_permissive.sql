-- Ported from clientpositive/udf_to_double.q-family behavior: Hive's
-- permissive string→number coercion returns NULL on garbage — spelled
-- TRY_CAST here so both dialects share the text (the engine's ANSI-off
-- plain CAST equivalence is pinned separately in q55).
SELECT TRY_CAST('12' AS INT) AS ok_int,
       TRY_CAST('12.5' AS DOUBLE) AS ok_dbl,
       TRY_CAST('x12' AS INT) IS NULL AS bad_int,
       TRY_CAST('' AS INT) IS NULL AS empty_int,
       TRY_CAST('1e3' AS DOUBLE) AS sci
FROM region LIMIT 1
