-- Corpus milestone: a composed shape touching the three pillars at
-- once — dimension join, windowed ranking inside a derived table, and
-- ROLLUP aggregation on top (the pattern TPC-H Q17/Q18-style reports
-- compile to).
SELECT COALESCE(n_name, 'ALL') AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_top,
       CAST(ROUND(SUM(price), 2) AS DOUBLE) AS total
FROM (
  SELECT n.n_name, o.o_totalprice AS price,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
                            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
) t
WHERE rn <= 10
GROUP BY ROLLUP(n_name)
