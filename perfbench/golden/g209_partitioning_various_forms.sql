-- Ported from windowing.q:381-388 (testPartitioningVariousForms):
-- sum/min/max/avg/count over partition-only and sort-on-the-partition-
-- key specs — every form resolves to the whole-partition frame.
-- Adapted: p_brand for p_mfgr; DISTRIBUTE/CLUSTER BY forms spelled as
-- their PARTITION BY equivalents (same semantics, common dialect).
SELECT p_brand,
       ROUND(SUM(p_retailprice) OVER (PARTITION BY p_brand ORDER BY p_brand), 2)
         AS s1,
       ROUND(MIN(p_retailprice) OVER (PARTITION BY p_brand), 2) AS s2,
       ROUND(MAX(p_retailprice) OVER (PARTITION BY p_brand ORDER BY p_brand), 2)
         AS s3,
       ROUND(AVG(p_retailprice) OVER (PARTITION BY p_brand), 2) AS s4,
       count(p_retailprice) OVER (PARTITION BY p_brand) AS s5
FROM part
