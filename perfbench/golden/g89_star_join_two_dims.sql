-- Ported from auto_join star shapes (join_star.q): fact joined to two
-- selective dimensions — the broadcast-both-dims plan.
SELECT n.n_name, p.p_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(l.l_extendedprice), 2) AS DOUBLE) AS rev
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_size <= 5 AND n.n_regionkey = 1
GROUP BY n.n_name, p.p_type
