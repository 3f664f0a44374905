-- Ported from except_distinct.q as an anti-join spelling: customers
-- minus customers-with-open-orders, re-joined for a count per segment.
SELECT c_mktsegment, COUNT(*) AS n_inactive
FROM customer
WHERE c_custkey IN (
  SELECT c_custkey FROM customer
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
)
GROUP BY c_mktsegment
