-- Ported from clientpositive/groupby2.q: group on a substring key with
-- COUNT(DISTINCT substring) and a concat of key + SUM (src key/value
-- adapted to orders priority/status strings).
SELECT SUBSTR(o_orderpriority, 1, 1) AS key,
       CAST(COUNT(DISTINCT SUBSTR(o_orderstatus, 1, 1)) AS BIGINT) AS c1,
       CONCAT(SUBSTR(o_orderpriority, 1, 1), CAST(CAST(SUM(o_orderkey) AS BIGINT) AS STRING)) AS c2
FROM orders GROUP BY SUBSTR(o_orderpriority, 1, 1)
