SELECT o_orderpriority,
       COUNT(*) AS n_shipped_fast
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate <= o_orderdate + INTERVAL 30 DAY
  AND o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY o_orderpriority ORDER BY o_orderpriority
