-- Ported from the computed-key join shapes: equi join on function
-- results (UPPER of a derived substring) rather than stored columns.
SELECT UPPER(SUBSTR(n.n_name, 1, 1)) AS initial, COUNT(*) AS n_pairs
FROM nation n
JOIN supplier s
  ON UPPER(SUBSTR(n.n_name, 1, 1)) = UPPER(SUBSTR(s.s_name, 1, 1))
GROUP BY UPPER(SUBSTR(n.n_name, 1, 1))
