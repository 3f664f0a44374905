-- subquery_exists.q "view with subquery" shape inlined as a derived
-- table: EXISTS applied inside a derived table, then aggregated.
SELECT v.l_returnflag, COUNT(*) AS n
FROM (SELECT l_returnflag, l_orderkey FROM lineitem l
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_orderkey = l.l_orderkey
                      AND o.o_totalprice > 200000)) v
GROUP BY v.l_returnflag
