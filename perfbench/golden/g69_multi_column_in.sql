-- Ported from multi_column_in.q: row-value (struct) IN over a literal
-- tuple list.
SELECT n_nationkey, n_name
FROM nation
WHERE (n_regionkey, SUBSTR(n_name, 1, 1)) IN ((0, 'A'), (1, 'B'), (2, 'I'))
