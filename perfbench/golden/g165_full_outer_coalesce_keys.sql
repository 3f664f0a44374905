-- Ported from the full-outer reconciliation idiom (join34.q family):
-- FULL OUTER over two aggregates of different predicates, keys
-- COALESCEd, NULL-side counts zero-filled.
SELECT COALESCE(a.k, b.k) AS k,
       COALESCE(a.n_open, 0) AS n_open,
       COALESCE(b.n_done, 0) AS n_done
FROM (SELECT o_custkey AS k, COUNT(*) AS n_open
      FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) a
FULL OUTER JOIN
     (SELECT o_custkey AS k, COUNT(*) AS n_done
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) b
  ON a.k = b.k
