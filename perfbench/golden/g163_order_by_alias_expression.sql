-- Ported from order_by_alias shapes: ORDER BY a select-list alias and
-- an expression over it, rank-materialized so the order survives the
-- order-insensitive diff.
SELECT seg, bal, CAST(ROW_NUMBER() OVER (ORDER BY bal DESC, seg) AS INT) AS r
FROM (
  SELECT c_mktsegment AS seg, ROUND(SUM(c_acctbal), 2) AS bal
  FROM customer
  GROUP BY c_mktsegment
) t
