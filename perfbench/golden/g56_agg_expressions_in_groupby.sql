-- Ported from groupby_expr shapes: grouping on computed expressions and
-- reusing them in the select list.
SELECT o_orderkey % 10 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice) / COUNT(*), 2) AS avg_price
FROM orders
GROUP BY o_orderkey % 10
ORDER BY bucket
