-- Ported from nullgroup3.q: a grouping key that is NULL for part of the
-- input — NULLs form one group, distinct from every real value.
SELECT CASE WHEN o_totalprice > 300000 THEN o_orderstatus END AS k,
       COUNT(*) AS n,
       COUNT(CASE WHEN o_totalprice > 300000 THEN o_orderstatus END)
         AS n_nonnull_key
FROM orders
GROUP BY CASE WHEN o_totalprice > 300000 THEN o_orderstatus END
