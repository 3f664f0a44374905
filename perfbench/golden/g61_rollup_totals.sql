-- Ported from groupby_rollup1.q: ROLLUP with grand total row and
-- GROUPING() disambiguation of real vs rolled-up NULLs.
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS prio,
       CAST(COUNT(*) AS BIGINT) AS n,
       GROUPING(o_orderstatus) AS g_status
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
ORDER BY status, prio
