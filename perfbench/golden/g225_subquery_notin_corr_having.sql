-- subquery_notin.q "agg, corr, with having": NOT IN inside HAVING over
-- a correlated aggregate.
SELECT b.p_brand, COUNT(*) AS cnt, MIN(b.p_size) AS min_size
FROM part b
GROUP BY b.p_brand
HAVING MIN(b.p_size) NOT IN
  (SELECT MAX(a.p_size) FROM part a WHERE a.p_brand = b.p_brand)
