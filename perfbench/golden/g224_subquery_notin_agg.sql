-- subquery_notin.q "agg, non corr": NOT IN over an aggregated ranked
-- subquery; AVG cast so both engines compare size against the same
-- integer-valued average (p_size is int; avg of ints differs in type
-- but not value across engines).
SELECT p_name, p_size FROM part
WHERE p_size NOT IN
  (SELECT CAST(MIN(p_size) AS INT)
   FROM (SELECT p_size, RANK() OVER (PARTITION BY p_brand ORDER BY p_size) AS r
         FROM part) a
   WHERE r <= 2)
