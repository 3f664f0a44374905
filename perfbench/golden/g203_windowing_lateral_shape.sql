-- Ported from windowing.q:231-236 (testLateralViews): a window over
-- exploded rows.  LATERAL VIEW itself is not in the common dialect, so
-- the explode is spelled as the portable 3-way self-multiplication
-- (UNION ALL of the three array elements), keeping the semantics: each
-- part row triples, and the window runs over (p_size, lv_col) order.
SELECT p_brand, p_name, lv_col, p_size,
       CAST(SUM(p_size) OVER (PARTITION BY p_brand
            ORDER BY p_size, lv_col, p_partkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS s
FROM (
  SELECT p_partkey, p_brand, p_name, p_size, 1 AS lv_col FROM part
  UNION ALL
  SELECT p_partkey, p_brand, p_name, p_size, 2 FROM part
  UNION ALL
  SELECT p_partkey, p_brand, p_name, p_size, 3 FROM part
) p
WHERE p_partkey <= 120
