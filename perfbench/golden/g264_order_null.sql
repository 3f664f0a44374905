-- Ported from clientpositive/order_null.q: explicit NULLS FIRST/LAST
-- with ASC/DESC over a null-bearing derived column (HIVE-12994).
SELECT k, v FROM (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderpriority END AS v
  FROM orders WHERE o_orderkey <= 40
) t ORDER BY v DESC NULLS FIRST, k ASC NULLS LAST
