-- Ported from groupby_grouping_sets4.q: GROUPING SETS over computed
-- keys (a substring and a bucket expression), not stored columns.
SELECT SUBSTR(o_orderpriority, 1, 1) AS pri,
       CAST(o_custkey % 4 AS BIGINT) AS cohort,
       COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS (
  (SUBSTR(o_orderpriority, 1, 1), o_custkey % 4),
  (SUBSTR(o_orderpriority, 1, 1)),
  ()
)
