-- subquery_notin.q "non agg, corr": NOT IN over a correlated ranked
-- subquery (p_mfgr adapted to p_brand).
SELECT b.p_brand, b.p_name, b.p_size FROM part b
WHERE b.p_name NOT IN
  (SELECT p_name
   FROM (SELECT p_brand, p_name, p_size,
                RANK() OVER (PARTITION BY p_brand ORDER BY p_size) AS r
         FROM part) a
   WHERE r <= 2 AND b.p_brand = a.p_brand)
