-- nullgroup.q family: aggregates over an EMPTY input — the global
-- (group-less) aggregate still returns one row (count 0), while the
-- grouped form returns zero rows; both branches unioned
SELECT 'global' AS tag, CAST(COUNT(1) AS BIGINT) AS n
FROM nation WHERE n_nationkey > 99999
UNION ALL
SELECT 'grouped' AS tag, CAST(COUNT(1) AS BIGINT) AS n
FROM (SELECT n_regionkey FROM nation WHERE n_nationkey > 99999) t
GROUP BY n_regionkey
