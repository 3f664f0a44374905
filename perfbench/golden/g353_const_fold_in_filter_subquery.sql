-- cbo_const.q tail shape: constant folding inside a derived table's
-- filter (key = 1+3) and selection through the alias.
SELECT CAST(s.k AS BIGINT) AS k
FROM (SELECT o_orderkey AS k FROM orders WHERE o_orderkey = 1 + 3) s
