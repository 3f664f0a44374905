-- Ported from the non-equi BETWEEN-join shape in
-- clientpositive/join_cond_pushdown family: range predicate as the
-- only join condition, digested to counts.
SELECT r.r_regionkey, CAST(COUNT(*) AS BIGINT) AS n
FROM region r JOIN nation n
  ON n.n_nationkey BETWEEN r.r_regionkey * 5 AND r.r_regionkey * 5 + 4
GROUP BY r.r_regionkey ORDER BY r.r_regionkey
