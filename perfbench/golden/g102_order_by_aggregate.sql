-- Ported from sum_expr_with_order.q: ORDER BY an aggregate expression
-- not present verbatim in the select list, rank-materialized so the
-- ordering survives the harness's order-insensitive diff.
SELECT status, n,
       ROW_NUMBER() OVER (ORDER BY total DESC, status) AS rn
FROM (
  SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(o_totalprice), 2) AS total
  FROM orders GROUP BY o_orderstatus
) t
