-- Ported from semijoin4.q: IN-subquery whose inner query carries its
-- own join and filter — the semi-join's build side is itself derived.
SELECT c_mktsegment, COUNT(*) AS n
FROM customer
WHERE c_custkey IN (
  SELECT o_custkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F' AND l_quantity > 45
)
GROUP BY c_mktsegment
