SELECT o_orderpriority,
       COUNT(*) AS n_all,
       COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
