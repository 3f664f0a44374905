-- Global-window ratio-to-report: per-status share of total orders value.
SELECT o_orderstatus,
       ROUND(SUM(o_totalprice), 2) AS total,
       ROUND(SUM(o_totalprice) / SUM(SUM(o_totalprice)) OVER (), 6) AS share
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
