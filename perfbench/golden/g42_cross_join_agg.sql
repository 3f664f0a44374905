-- Ported from auto_join0.q (full cross product of two filtered slices,
-- aggregated): cartesian of small filtered sides into one digest row.
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(a.n_nationkey + b.n_nationkey) AS BIGINT) AS key_sum
FROM (SELECT n_nationkey FROM nation WHERE n_nationkey < 10) a
CROSS JOIN (SELECT n_nationkey FROM nation WHERE n_nationkey < 10) b
