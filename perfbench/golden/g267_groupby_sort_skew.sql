-- Ported from clientpositive/groupby_sort_1.q family: aggregate over
-- the table's own sort/bucket key then ordered read-back — value
-- equality must hold under any groupby.skewindata/map.aggr setting.
SELECT n_regionkey AS key, CAST(COUNT(1) AS BIGINT) AS cnt
FROM nation GROUP BY n_regionkey ORDER BY key
