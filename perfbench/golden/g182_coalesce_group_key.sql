-- Ported from the NULL-key normalization idiom: COALESCE inside the
-- grouping key merges the NULL group with a sentinel label.
SELECT COALESCE(CASE WHEN o_totalprice > 300000 THEN o_orderstatus END,
                'small') AS k,
       COUNT(*) AS n
FROM orders
GROUP BY COALESCE(CASE WHEN o_totalprice > 300000 THEN o_orderstatus END,
                  'small')
