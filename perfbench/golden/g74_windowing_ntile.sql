-- Ported from windowing_ntile.q: ntile / percent_rank / cume_dist over a
-- deterministic unique ordering.
SELECT o_orderkey,
       NTILE(4) OVER (ORDER BY o_orderkey) AS nt,
       ROUND(PERCENT_RANK() OVER (ORDER BY o_orderkey), 6) AS pr,
       ROUND(CUME_DIST() OVER (ORDER BY o_orderkey), 6) AS cd
FROM orders WHERE o_orderkey <= 300
