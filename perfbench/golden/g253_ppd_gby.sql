-- Ported from clientpositive/ppd_gby.q: filter above a grouped derived
-- table mixing a pushable key predicate with an OR over the aggregate
-- (src key/value adapted to orders priority/totalprice).
SELECT src1.c1
FROM (SELECT o_orderpriority AS c1, COUNT(o_orderkey) AS c2
      FROM orders WHERE o_orderpriority > '1' GROUP BY o_orderpriority) src1
WHERE src1.c1 > '2' AND (src1.c2 > 30 OR src1.c1 < '4')
