-- Ported from udf_divide.q under Hive's permissive arithmetic
-- (ansi off): x/0 and x%0 yield NULL, never an error — counted and
-- summed so a single error-raising row would fail the whole case.
SELECT o_orderstatus,
       COUNT(*) AS n,
       COUNT(o_totalprice / (o_orderkey % 3)) AS n_valid_div,
       COUNT(o_orderkey % (o_orderkey % 3)) AS n_valid_mod
FROM orders
GROUP BY o_orderstatus
