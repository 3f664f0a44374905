-- Ported from union27.q: a join against a UNION ALL derived table with a
-- constant key predicate on the union side (pushed into both branches).
SELECT b.o_orderkey, b.o_orderstatus
FROM orders a
JOIN (SELECT * FROM orders UNION ALL SELECT * FROM orders) b
  ON a.o_orderkey = b.o_orderkey AND b.o_orderkey = 97
