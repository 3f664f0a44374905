-- Ported from windowing.q:290-298 (testGroupByHavingWithSWQAndAlias):
-- GROUP BY + HAVING feeding windows — rank/dense_rank/lag run over the
-- aggregated rows, not the raw scan.  Adapted: p_brand for p_mfgr;
-- deterministic lag ordering via the grouped key pair.
SELECT p_brand, p_name, p_size,
       ROUND(MIN(p_retailprice), 2) AS mi,
       rank() OVER (PARTITION BY p_brand ORDER BY p_name, p_size) AS r,
       dense_rank() OVER (PARTITION BY p_brand ORDER BY p_name, p_size) AS dr,
       p_size - CAST(lag(p_size, 1, p_size)
                     OVER (PARTITION BY p_brand ORDER BY p_name, p_size)
                AS INT) AS deltasz
FROM part
GROUP BY p_brand, p_name, p_size
HAVING p_size > 0
