-- groupby_sort_1.q shape: group-by whose key is a prefix of the
-- table's sort order (Hive's map-side sorted group-by); count + sum
-- per prefix with a secondary rollup over the result
SELECT key1, CAST(COUNT(1) AS BIGINT) AS cnt, CAST(SUM(key2) AS BIGINT) AS s
FROM (SELECT l_orderkey AS key1, l_linenumber AS key2
      FROM lineitem WHERE l_orderkey < 200) t
GROUP BY key1
