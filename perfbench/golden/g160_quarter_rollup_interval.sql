-- Composed tail for the batch: quarterly ROLLUP over a date_part key
-- with an interval-shifted filter — three shared-dialect features in
-- one statement.
SELECT date_part('quarter', o_orderdate) AS q,
       o_orderstatus,
       COUNT(*) AS n,
       CAST(GROUPING(o_orderstatus) AS INT) AS g
FROM orders
WHERE o_orderdate >= DATE '1992-01-01' + INTERVAL 90 DAY
GROUP BY ROLLUP (date_part('quarter', o_orderdate), o_orderstatus)
