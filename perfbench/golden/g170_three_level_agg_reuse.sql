-- Composed tail: aggregate of an aggregate of an aggregate — per-order
-- line counts, per-customer order stats, then the distribution of
-- those stats corpus-wide.
SELECT orders_per_cust, COUNT(*) AS n_custs,
       CAST(SUM(total_lines) AS BIGINT) AS lines_covered
FROM (
  SELECT o_custkey, COUNT(*) AS orders_per_cust,
         CAST(SUM(n_lines) AS BIGINT) AS total_lines
  FROM (
    SELECT o_custkey, o_orderkey, COUNT(*) AS n_lines
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_custkey, o_orderkey
  ) per_order
  GROUP BY o_custkey
) per_cust
GROUP BY orders_per_cust
