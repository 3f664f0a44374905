-- Ported from clientpositive/windowing.q ranking battery:
-- PERCENT_RANK and CUME_DIST alongside RANK.
SELECT o_orderkey AS k,
       RANK() OVER w AS rnk,
       ROUND(PERCENT_RANK() OVER w, 6) AS pr,
       ROUND(CUME_DIST() OVER w, 6) AS cd
FROM orders WHERE o_orderkey <= 60
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)
ORDER BY k
