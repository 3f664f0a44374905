-- semijoin.q chained form: two semi joins in sequence.
SELECT o.o_orderkey, o.o_orderstatus FROM orders o
LEFT SEMI JOIN lineitem l ON o.o_orderkey = l.l_orderkey AND l.l_quantity > 40
WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
