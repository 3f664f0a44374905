-- Ported from reference ql/src/test/queries/clientpositive/windowing.q:6-11
-- (testWindowing): rank/dense_rank over a sort-only spec plus a running
-- ROWS sum.  Adapted to the driver's part table (p_brand stands in for
-- p_mfgr; DISTRIBUTE/SORT BY -> PARTITION/ORDER BY; the running sum adds a
-- p_partkey tie-break so cross-engine accumulation order is identical).
SELECT p_brand, p_name, p_size,
       rank() OVER (PARTITION BY p_brand ORDER BY p_name) AS r,
       dense_rank() OVER (PARTITION BY p_brand ORDER BY p_name) AS dr,
       ROUND(SUM(p_retailprice) OVER (PARTITION BY p_brand
             ORDER BY p_name, p_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS s1
FROM part
