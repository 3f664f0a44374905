-- Ported from case_sensitivity.q: identifiers resolve case-insensitively
-- (HiveConf hive.support.quoted.identifiers default) — mixed-case table
-- and column spellings must bind to the same objects.
SELECT O_OrderStatus AS K, COUNT(*) AS N
FROM Orders
WHERE o_TOTALPRICE > 1000
GROUP BY o_orderSTATUS
