-- Ported from groupby7_map.q: the same scan aggregated two different
-- ways and UNION ALLed — Hive materializes one map stage feeding two
-- reduce branches; Catalyst reuses the exchange.
SELECT 'by_status' AS grp, o_orderstatus AS k, COUNT(*) AS n
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 'by_priority' AS grp, o_orderpriority AS k, COUNT(*) AS n
FROM orders GROUP BY o_orderpriority
