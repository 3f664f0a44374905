-- Ported from clientpositive/udf_isnull_isnotnull.q: null tests over a
-- derived null-bearing column.
SELECT n_nationkey AS k,
       (CASE WHEN n_nationkey % 2 = 0 THEN NULL ELSE n_name END) IS NULL AS isn,
       (CASE WHEN n_nationkey % 2 = 0 THEN NULL ELSE n_name END) IS NOT NULL AS isnn
FROM nation ORDER BY k
