-- Ported from join2.q's old-style syntax: comma-separated FROM list with
-- equi predicates in WHERE — pre-ANSI join spelling both engines still
-- accept and plan as hash joins.
SELECT n_name, COUNT(*) AS n
FROM customer c, nation n, region r
WHERE c.c_nationkey = n.n_nationkey
  AND n.n_regionkey = r.r_regionkey
  AND r.r_name <> 'EUROPE'
GROUP BY n_name
