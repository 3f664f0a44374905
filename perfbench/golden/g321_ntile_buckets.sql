-- Ported from clientpositive/windowing.q ntile section: quartiles
-- within partitions.
SELECT o_orderkey AS k,
       NTILE(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) AS quartile
FROM orders WHERE o_orderkey <= 80 ORDER BY k
