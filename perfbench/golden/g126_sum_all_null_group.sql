-- Ported from nullgroup4 shapes: SUM/MIN over groups whose every value
-- is NULL (customers with no orders under a LEFT JOIN) must yield NULL,
-- then COALESCE to a sentinel — exercising NULL-vs-zero aggregate
-- semantics on the null-supplying side.
SELECT c.c_custkey,
       COUNT(o.o_orderkey) AS n_orders,
       COALESCE(ROUND(SUM(o.o_totalprice), 2), -1.0) AS total_or_sentinel
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'P'
WHERE c.c_custkey <= 200
GROUP BY c.c_custkey
