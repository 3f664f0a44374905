-- Ported from clientpositive/limit_pushdown.q (distincts section):
-- DISTINCT of a numeric column ordered with LIMIT (alltypesorc cdouble
-- adapted to lineitem quantity).
SELECT DISTINCT l_quantity AS dis FROM lineitem ORDER BY dis LIMIT 20
