-- Ported from subquery_in.q:47-56 ("agg, corr": p_name IN (SELECT
-- max over a correlated slice)): part rows whose size equals the
-- per-brand maximum, via a correlated IN subquery.
SELECT p_brand, p_name, p_size
FROM part p
WHERE p.p_size IN (SELECT MAX(p2.p_size) FROM part p2
                   WHERE p2.p_brand = p.p_brand)
  AND p_partkey <= 400
ORDER BY p_brand, p_name
