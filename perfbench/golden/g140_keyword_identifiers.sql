-- Ported from keyword_1.q / quotedid_basic.q: SQL keywords as quoted
-- column aliases, referenced again in GROUP BY and ORDER BY.
SELECT o_orderstatus AS `order`,
       o_orderpriority AS `group`,
       COUNT(*) AS `rows`,
       ROUND(SUM(o_totalprice), 2) AS `sum`
FROM orders
WHERE o_orderkey <= 3000
GROUP BY `order`, `group`
ORDER BY `order`, `group`
