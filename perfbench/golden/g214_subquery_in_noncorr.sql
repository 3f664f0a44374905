-- Ported from ql/src/test/queries/clientpositive/subquery_in.q ("non agg,
-- non corr"); src.key adapted to part.p_size over the testdata schema.
SELECT p_partkey, p_name, p_size FROM part
WHERE p_size IN (SELECT p_size FROM part s1 WHERE s1.p_size > 40)
