SELECT o_orderkey,
       (CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END
        IS NOT DISTINCT FROM o_orderstatus) AS ns_eq,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open
FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey
