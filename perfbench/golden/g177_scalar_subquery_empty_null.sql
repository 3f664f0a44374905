-- Ported from subquery_scalar.q's empty-input leg: a scalar subquery
-- over zero rows yields NULL; comparisons against it are UNKNOWN and
-- keep nothing, which the COALESCE branch makes visible.
SELECT COUNT(*) AS n_matched,
       CAST(SUM(CASE WHEN o_totalprice >
                (SELECT MAX(o_totalprice) FROM orders WHERE o_orderkey < 0)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_above_null,
       COALESCE((SELECT MAX(o_orderkey) FROM orders WHERE o_orderkey < 0),
                -1) AS sentinel
FROM orders
