-- Ported from the three-valued-logic .q shapes: a NULL literal inside
-- an IN list — non-matching rows become UNKNOWN (filtered), and the
-- NOT IN twin keeps nothing at all.
SELECT COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN o_orderstatus IN ('O', NULL) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_in_with_null,
       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', NULL) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_not_in_with_null
FROM orders
