-- Ported from clientpositive/correlationoptimizer1.q shape: two
-- aggregates over the same key joined back together (the correlation
-- the optimizer collapses into one shuffle).
SELECT a.o_custkey, a.cnt AS order_cnt, ROUND(b.total, 2) AS total
FROM (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) a
JOIN (SELECT o_custkey, SUM(o_totalprice) AS total FROM orders GROUP BY o_custkey) b
  ON a.o_custkey = b.o_custkey
WHERE a.cnt >= 5
