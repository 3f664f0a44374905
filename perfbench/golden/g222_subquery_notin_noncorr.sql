-- Ported from clientpositive/subquery_notin.q "non agg, non corr"
-- (src.key > '2' adapted to p_size > 25 on the testdata schema).
SELECT p_partkey, p_name, p_size FROM part
WHERE p_size NOT IN (SELECT p_size FROM part s1 WHERE s1.p_size > 25)
