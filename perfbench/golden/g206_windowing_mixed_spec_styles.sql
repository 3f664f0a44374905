-- Ported from windowing.q:317-323 (testDefaultPartitioningSpecRules):
-- one query mixing an explicit-frame named window with a default-frame
-- sort-only spec — Hive's DISTRIBUTE/SORT BY and PARTITION/ORDER BY
-- styles resolve to the same semantics.  Adapted: p_brand for p_mfgr;
-- tie-breaks on the ROWS spec; the sort-only spec keeps the default
-- RANGE frame (ties share the running value).
SELECT p_brand, p_name, p_size,
       CAST(SUM(p_size) OVER w1 AS BIGINT) AS s,
       CAST(SUM(p_size) OVER w2 AS BIGINT) AS s2
FROM part
WINDOW w1 AS (PARTITION BY p_brand ORDER BY p_name, p_partkey
              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING),
       w2 AS (PARTITION BY p_brand ORDER BY p_name)
