-- Ported from correlationoptimizer1.q: a GroupBy following a Join that
-- share the same key (Hive's CorrelationOptimizer merges them into one
-- MR job; Catalyst reuses the join's hash partitioning for the agg so
-- only one Exchange on the key appears).  SUM(HASH()) in the original is
-- replaced by engine-neutral aggregates over the same columns.
SELECT CAST(SUM(tmp.key) AS BIGINT) AS key_sum,
       CAST(SUM(tmp.cnt) AS BIGINT) AS cnt_sum
FROM (SELECT x.c_custkey AS key, COUNT(1) AS cnt
      FROM customer x JOIN orders y ON (x.c_custkey = y.o_custkey)
      GROUP BY x.c_custkey) tmp
