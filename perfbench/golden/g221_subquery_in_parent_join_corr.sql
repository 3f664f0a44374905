-- subquery_in.q "non agg, corr, with join in Parent Query": the inner
-- query correlates on li.l_linenumber.
SELECT p.p_partkey, li.l_suppkey
FROM (SELECT DISTINCT l_partkey AS p_partkey FROM lineitem) p
JOIN lineitem li ON p.p_partkey = li.l_partkey
WHERE li.l_linenumber = 1
  AND li.l_orderkey IN
    (SELECT l_orderkey FROM lineitem
     WHERE l_returnflag = 'R' AND l_linenumber = li.l_linenumber)
