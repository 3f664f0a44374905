-- Ported from clientpositive/auto_join4.q: LEFT OUTER JOIN between two
-- filtered derived tables with overlapping key ranges, projected in
-- full (src ranges 10..20/15..25 kept on orders keys).
SELECT a.c1, a.c2, b.c3, b.c4
FROM (SELECT o_orderkey AS c1, o_orderpriority AS c2 FROM orders
      WHERE o_orderkey > 10 AND o_orderkey < 200) a
LEFT OUTER JOIN
     (SELECT o_orderkey AS c3, o_orderstatus AS c4 FROM orders
      WHERE o_orderkey > 150 AND o_orderkey < 300) b
ON a.c1 = b.c3
