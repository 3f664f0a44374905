-- subquery_in.q "non agg, non corr, windowing": IN over first_value
-- window results.
SELECT p_brand, p_name, p_size FROM part
WHERE p_size IN
  (SELECT FIRST_VALUE(p_size) OVER (PARTITION BY p_brand ORDER BY p_size)
   FROM part)
