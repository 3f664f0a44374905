-- Ported from clientpositive/subquery_exists.q "no agg, corr": EXISTS
-- with two correlated predicates (src value/key adapted to lineitem).
SELECT l.l_orderkey, l.l_linenumber, l.l_quantity
FROM lineitem l
WHERE EXISTS
  (SELECT 1 FROM lineitem x
   WHERE x.l_orderkey = l.l_orderkey
     AND x.l_linenumber <> l.l_linenumber
     AND x.l_quantity > 45)
