-- Ported from the count.q DISTINCT-aggregate family: AVG(DISTINCT) and
-- SUM(DISTINCT) — the dedup happens inside the aggregate, per group.
SELECT l_returnflag,
       ROUND(AVG(DISTINCT l_quantity), 6) AS avg_dq,
       CAST(SUM(DISTINCT l_linenumber) AS BIGINT) AS sum_dl,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
