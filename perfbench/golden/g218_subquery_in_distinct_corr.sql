-- subquery_in.q "distinct, corr".
SELECT b.p_partkey, b.p_name FROM part b
WHERE b.p_partkey IN
  (SELECT DISTINCT a.p_partkey FROM part a
   WHERE b.p_brand = a.p_brand AND a.p_size > 35)
