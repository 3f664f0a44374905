-- Ported from clientpositive/groupby_duplicate_key.q: DISTINCT over a
-- key plus two identical constant columns (duplicate group keys).
SELECT DISTINCT o_orderstatus, '' AS dummy1, '' AS dummy2
FROM orders
ORDER BY o_orderstatus
