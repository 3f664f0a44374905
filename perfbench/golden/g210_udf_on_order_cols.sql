-- Ported from windowing.q:396-399 (testUDFOnOrderCols): a function
-- result as the window ORDER key — rank over substr(p_type, 2), the
-- expression also projected.  Adapted: p_brand for p_mfgr; p_partkey
-- appended to the projection for a deterministic row set.
SELECT p_brand, p_type, SUBSTR(p_type, 2) AS short_ptype, p_partkey,
       rank() OVER (PARTITION BY p_brand
                    ORDER BY SUBSTR(p_type, 2)) AS r
FROM part
