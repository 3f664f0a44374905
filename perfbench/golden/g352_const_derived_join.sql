-- Ported from clientpositive/cbo_const.q shape: join against a
-- grouped derived table whose aliased constant-ish column is filtered
-- outside (the pushdown-through-alias case).
SELECT CAST(COUNT(*) AS BIGINT) AS n
FROM orders
JOIN (SELECT o_orderstatus AS st, o_orderstatus AS status_alias
      FROM orders GROUP BY o_orderstatus) s
  ON orders.o_orderstatus = s.st
WHERE s.status_alias = 'F'
