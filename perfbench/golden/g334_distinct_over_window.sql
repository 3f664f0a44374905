-- Ported from clientpositive/distinct_windowing.q: DISTINCT applied to
-- a window-function result (first_value per partition).
SELECT DISTINCT fv
FROM (
  SELECT FIRST_VALUE(l_quantity) OVER (
           PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber) AS fv
  FROM lineitem WHERE l_orderkey <= 2000
) t
ORDER BY fv
