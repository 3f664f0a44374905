-- EXCEPT over a two-column key must agree with the NOT EXISTS phrasing.
SELECT CAST(COUNT(*) AS BIGINT) AS n_except_form,
       (SELECT COUNT(*) FROM (
          SELECT c_custkey FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey)
        ) x) AS n_not_exists_form
FROM (
  SELECT c_custkey FROM customer
  EXCEPT
  SELECT o_custkey FROM orders
) e
