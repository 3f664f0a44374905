-- Ported from clientpositive/groupby4.q: grouping purely on a
-- substring transform of the key (src adapted to orders clerk-ish
-- priority string).
SELECT SUBSTR(o_orderpriority, 1, 1) AS c1
FROM orders GROUP BY SUBSTR(o_orderpriority, 1, 1)
