-- Ported from the string-range .q shapes: BETWEEN over string collation
-- (binary order in both engines) plus a LIKE prefix check over the
-- same bounds.
SELECT c_mktsegment, COUNT(*) AS n
FROM customer
WHERE c_name BETWEEN 'Customer#000000100' AND 'Customer#000000499'
  AND c_mktsegment NOT BETWEEN 'D' AND 'G'
GROUP BY c_mktsegment
