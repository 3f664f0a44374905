-- Ported from join_reorder.q: three-way join written in a deliberately
-- suboptimal syntactic order (fact first, dims later) — the optimizer
-- may reorder freely but the result must be identical.
SELECT r_name, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r_name
