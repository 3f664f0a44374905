-- Ported from clientpositive/fold_when.q shape: nested CASE inside a
-- comparison inside WHERE.
SELECT o_orderkey
FROM orders
WHERE ((CASE WHEN (o_orderstatus =
         (CASE WHEN o_orderstatus = 'F' THEN 'O' ELSE 'O' END))
       THEN 1=3 ELSE 1=1 END))
  AND o_orderkey <= 100
ORDER BY o_orderkey
