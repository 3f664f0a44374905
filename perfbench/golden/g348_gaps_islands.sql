-- Gaps-and-islands via rank-difference grouping: consecutive orderkey
-- runs per customer collapse to one island id.
WITH ranked AS (
  SELECT o_custkey, o_orderkey,
         o_orderkey - ROW_NUMBER() OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderkey) AS island
  FROM orders WHERE o_orderkey <= 2000
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(MAX(len) AS BIGINT) AS longest
FROM (
  SELECT o_custkey, island, COUNT(*) AS len
  FROM ranked GROUP BY o_custkey, island
) t
