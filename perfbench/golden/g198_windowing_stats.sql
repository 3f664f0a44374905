-- Ported from windowing.q:179-188 (testSTATs): statistical UDAFs as
-- window functions — stddev/stddev_pop/variance/corr/covar_pop over
-- the centered ±2 ROWS frame.  Adapted: p_brand for p_mfgr; p_partkey
-- tie-break; collect_set dropped (array ordering is engine-dependent);
-- single-row frames give NULL sample stats in both engines, COALESCEd
-- to a sentinel.  var/corr/covar use LN(p_retailprice) as the measure:
-- over the tiny 5-row frames the raw 2-decimal prices produce finite-
-- decimal covariances that land EXACTLY on ROUND boundaries where the
-- engines' double representations legitimately disagree by one ulp
-- (see the cross-engine ROUND note in the repo docs); the log measure
-- is transcendental, so boundaries never occur.  stddev keeps the raw
-- price (sqrt makes it irrational already).  The trailing + 0
-- normalizes IEEE signed zero (DuckDB ROUND can yield -0.0).
SELECT p_brand, p_name, p_size,
       ROUND(COALESCE(stddev_samp(p_retailprice) OVER w1, -1), 4) AS sdev,
       ROUND(stddev_pop(p_retailprice) OVER w1, 4) AS sdev_pop,
       ROUND(COALESCE(var_samp(LN(p_retailprice)) OVER w1, -1), 4) + 0 AS var,
       ROUND(COALESCE(corr(p_size, LN(p_retailprice)) OVER w1, -2), 4) + 0 AS cor,
       ROUND(covar_pop(p_size, LN(p_retailprice)) OVER w1, 4) + 0 AS covarp
FROM part
WHERE p_retailprice > 0
WINDOW w1 AS (PARTITION BY p_brand ORDER BY p_name, p_partkey
              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
