-- Ported from clientpositive/nullgroup.q: global COUNT over a
-- predicate that matches nothing must return one row of 0 under every
-- map-aggr/skew setting (key > 9999 adapted to orders).
SELECT CAST(COUNT(1) AS BIGINT) AS n FROM orders WHERE o_orderkey > 999999999
