-- Ported from clientpositive/auto_join1.q: equi self-join then a single
-- aggregate digest over the joined projection (hive's sum(hash(k,v))
-- digest replaced by an arithmetic digest both dialects share).
SELECT CAST(SUM(j.k + LENGTH(j.v)) AS BIGINT) AS digest
FROM (SELECT src1.o_orderkey AS k, src2.o_orderpriority AS v
      FROM orders src1 JOIN orders src2 ON src1.o_orderkey = src2.o_orderkey) j
