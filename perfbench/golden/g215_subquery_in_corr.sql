-- subquery_in.q "non agg, corr": b.value = a.value correlation adapted
-- to p_type; a.key > '9' adapted to p_size > 30.
SELECT b.p_partkey, b.p_name FROM part b
WHERE b.p_partkey IN
  (SELECT a.p_partkey FROM part a
   WHERE b.p_type = a.p_type AND a.p_size > 30)
