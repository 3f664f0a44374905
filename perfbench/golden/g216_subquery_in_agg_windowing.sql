-- subquery_in.q "agg, non corr": IN over an aggregate of a ranked
-- window subquery (p_mfgr adapted to p_brand).
SELECT p_name, p_size FROM part
WHERE p_size IN
  (SELECT MIN(p_size)
   FROM (SELECT p_size, RANK() OVER (PARTITION BY p_brand ORDER BY p_size) AS r
         FROM part) a
   WHERE r <= 2)
