-- Ported from the join-cardinality sanity shapes: a one-to-many join
-- multiplies the one side's values — SUM over the fanned-out column
-- versus the pre-join SUM scaled by line counts must reconcile.
SELECT o_orderstatus,
       COUNT(*) AS n_lines,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS fanned_price_sum
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
