-- Ported from clientpositive/udf_like.q: %, _, and literal-prefix
-- patterns over a string column plus NOT LIKE.
SELECT n_nationkey AS k,
       n_name LIKE 'A%' AS p1,
       n_name LIKE '%IA' AS p2,
       n_name LIKE '_R%' AS p3,
       n_name NOT LIKE '%A%' AS p4
FROM nation ORDER BY k
