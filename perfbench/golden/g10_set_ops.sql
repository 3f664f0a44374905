SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT o_custkey FROM orders WHERE o_totalprice > 250000
EXCEPT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
ORDER BY k
