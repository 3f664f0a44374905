-- subquery_in.q "agg, corr": correlated min-of-top-ranked per brand
-- (b.p_mfgr = a.p_mfgr adapted to p_brand).
SELECT b.p_brand, b.p_name, b.p_size FROM part b
WHERE b.p_size IN
  (SELECT MIN(p_size)
   FROM (SELECT p_brand, p_size,
                RANK() OVER (PARTITION BY p_brand ORDER BY p_size) AS r
         FROM part) a
   WHERE r <= 2 AND b.p_brand = a.p_brand)
