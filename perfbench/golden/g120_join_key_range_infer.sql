-- Ported from infer_join_preds.q: a range predicate on one side's join
-- key must constrain the other side too (predicate inference across the
-- equi-join), combined with a residual non-key filter.
SELECT n.n_name, COUNT(*) AS c, ROUND(SUM(c.c_acctbal), 2) AS bal
FROM nation n
JOIN customer c ON n.n_nationkey = c.c_nationkey
WHERE n.n_nationkey BETWEEN 5 AND 15
  AND c.c_acctbal > 0
GROUP BY n.n_name
