-- having.q second case: HAVING on the grouping key itself.
SELECT l_orderkey, MAX(l_quantity) AS c FROM lineitem
GROUP BY l_orderkey HAVING l_orderkey <> 302
