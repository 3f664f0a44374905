-- Ported from clientpositive/implicit_cast1.q shape: int/double mixed
-- comparisons and arithmetic widen implicitly in both dialects.
SELECT l_linenumber + 0.5 AS widened,
       l_linenumber = 1.0 AS int_eq_dbl,
       l_quantity > 30 AS dbl_gt_int,
       CAST(l_linenumber AS DOUBLE) / 2 AS halved
FROM lineitem WHERE l_orderkey <= 20 ORDER BY l_orderkey, l_linenumber
