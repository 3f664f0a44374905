-- Ported from clientpositive/join_cond_pushdown_unqual1.q: the chain
-- crosses tables with DIFFERENT column names (part/lineitem/orders),
-- so pushdown cannot rely on qualified-name identity.
SELECT p.p_partkey, l.l_orderkey, o.o_orderstatus
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_size > 45 AND o.o_totalprice > 100000
