-- Ported from clientpositive/cbo_limit.q shape: LIMIT inside a derived
-- table feeding a join (the limit must apply before the join).
SELECT CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT n_regionkey FROM nation ORDER BY n_nationkey LIMIT 5) t
JOIN region r ON t.n_regionkey = r.r_regionkey
