-- Ported from clientpositive/semijoin.q: LEFT SEMI JOIN basic form.
SELECT s.s_suppkey, s.s_name FROM supplier s
LEFT SEMI JOIN lineitem l ON s.s_suppkey = l.l_suppkey AND l.l_quantity > 49
