-- Ported from windowing.q:204-214 (testViewAsTableInputWithWindowing,
-- inlined): a window over a pre-aggregated derived table — per-brand
-- retail sums windowed with a trailing 2-row frame over the brand
-- order within each type prefix.
SELECT p_type_prefix, p_brand, s,
       ROUND(SUM(s) OVER (PARTITION BY p_type_prefix ORDER BY p_brand
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS s1
FROM (
  SELECT SUBSTR(p_type, 1, 5) AS p_type_prefix, p_brand,
         ROUND(SUM(p_retailprice), 2) AS s
  FROM part
  GROUP BY SUBSTR(p_type, 1, 5), p_brand
) mfgr_price_view
