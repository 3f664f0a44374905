-- Ported from join_alt_syntax.q: JOIN ... USING — the shared column
-- appears once in the output; spelled as a same-table pairing of each
-- customer's distinct order dates.
SELECT o_custkey, COUNT(*) AS n_pairs
FROM (SELECT DISTINCT o_custkey, o_orderdate FROM orders) a
JOIN (SELECT DISTINCT o_custkey, o_orderdate FROM orders) b
  USING (o_custkey)
WHERE a.o_orderdate < b.o_orderdate
GROUP BY o_custkey
