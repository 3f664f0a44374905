SELECT /*+ MAPJOIN(nation) */ n_name, COUNT(*) AS n_supp,
       CAST(SUM(s_suppkey) AS BIGINT) AS key_sum
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
