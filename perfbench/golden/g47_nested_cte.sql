-- Ported from cte_2.q: a CTE consuming another CTE, both referenced in
-- the final select.
WITH r AS (
  SELECT r_regionkey, r_name FROM region
), nr AS (
  SELECT n_nationkey, n_name, r.r_name
  FROM nation JOIN r ON n_regionkey = r.r_regionkey
)
SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_nations, MIN(n_name) AS first_nation
FROM nr GROUP BY r_name ORDER BY r_name
