SELECT v.code, COUNT(*) AS n
FROM orders JOIN (VALUES ('1-URGENT', 'U'), ('2-HIGH', 'H')) AS v(prio, code)
  ON o_orderpriority = v.prio
GROUP BY v.code ORDER BY v.code
