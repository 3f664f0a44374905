-- Ported from cte_4.q: a three-level CTE chain, each level refining the
-- previous one's output.
WITH big AS (
  SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 1000
), per_cust AS (
  SELECT o_custkey, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
  FROM big GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey, n, total FROM per_cust WHERE n >= 2
)
SELECT COUNT(*) AS n_custs,
       CAST(SUM(n) AS BIGINT) AS n_orders,
       ROUND(SUM(total), 2) AS grand_total
FROM ranked
