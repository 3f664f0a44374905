-- correlationoptimizer1.q shape: JoinOperator and GroupByOperator share
-- the same key (o_custkey) — Hive's correlation optimizer merges them
-- into one MR job; Spark reuses the join's hash partitioning for the
-- group-by with no second exchange
SELECT CAST(SUM(tmp.key) AS BIGINT) AS sum_key,
       CAST(SUM(tmp.cnt) AS BIGINT) AS sum_cnt
FROM (SELECT x.o_custkey AS key, COUNT(1) AS cnt
      FROM orders x JOIN customer y ON x.o_custkey = y.c_custkey
      GROUP BY x.o_custkey) tmp
