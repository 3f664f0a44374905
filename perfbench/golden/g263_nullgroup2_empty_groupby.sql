-- Ported from clientpositive/nullgroup2.q: GROUP BY over an empty scan
-- returns zero rows (not a zero-count row) — the dual of nullgroup.q.
SELECT o_orderstatus, CAST(COUNT(1) AS BIGINT) AS n
FROM orders WHERE o_orderkey > 999999999 GROUP BY o_orderstatus
