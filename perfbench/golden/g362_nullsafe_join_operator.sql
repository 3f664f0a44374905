-- Ported from join_nullsafe.q: the <=> operator AS A JOIN CONDITION —
-- NULL keys match each other (unlike =), so rows whose key nulled out
-- via NULLIF still pair up.  g338 covers the scalar IS DISTINCT FROM
-- spelling; this is the operator-in-ON form Hive scripts use.
SELECT a.o_orderkey AS ka, b.o_orderkey AS kb
FROM (SELECT o_orderkey, NULLIF(o_orderkey % 7, 3) AS jk
      FROM orders WHERE o_orderkey <= 60) a
JOIN (SELECT o_orderkey, NULLIF(o_orderkey % 7, 3) AS jk
      FROM orders WHERE o_orderkey <= 60) b
  ON a.jk <=> b.jk AND a.o_orderkey < b.o_orderkey
