-- NATURAL JOIN resolution (HiveParser.g joinSource; Spark/DuckDB both
-- resolve on the single shared column name here: n_regionkey/r_regionkey
-- renamed views make the common column explicit).
SELECT r.rname, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT n_nationkey, n_regionkey AS rk, n_name FROM nation) nt
NATURAL JOIN (SELECT r_regionkey AS rk, r_name AS rname FROM region) r
GROUP BY r.rname
ORDER BY r.rname
