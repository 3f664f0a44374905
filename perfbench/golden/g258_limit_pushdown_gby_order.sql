-- Ported from clientpositive/limit_pushdown.q (HIVE-3562): group-by
-- aggregate ordered by the group key with a small LIMIT — the Top-N
-- must ride the shuffle, not a full sort (plan pinned in
-- tests/test_plans.py; this pins the values).
SELECT o_orderpriority AS value, SUM(o_orderkey + 1) AS sum_k
FROM orders GROUP BY o_orderpriority ORDER BY value LIMIT 20
