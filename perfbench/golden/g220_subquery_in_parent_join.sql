-- subquery_in.q "non agg, non corr, with join in Parent Query"
-- (l_shipmode = 'AIR' adapted to l_returnflag = 'R').
SELECT p.p_partkey, li.l_suppkey
FROM (SELECT DISTINCT l_partkey AS p_partkey FROM lineitem) p
JOIN lineitem li ON p.p_partkey = li.l_partkey
WHERE li.l_linenumber = 1
  AND li.l_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
