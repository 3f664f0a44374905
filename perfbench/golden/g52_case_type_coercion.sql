-- Ported from udf_case.q type-coercion shapes: CASE branches returning
-- int and double coerce to double; searched + simple CASE forms.
SELECT n_nationkey,
       CASE WHEN n_regionkey = 0 THEN 1 ELSE 2.5 END AS mixed_num,
       CASE n_regionkey WHEN 0 THEN 'zero' WHEN 1 THEN 'one' ELSE 'many' END AS named
FROM nation ORDER BY n_nationkey
