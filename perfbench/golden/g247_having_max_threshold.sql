-- having.q third/fourth cases: HAVING max(value) > const, with and
-- without a WHERE on the feed (the WHERE variant).
SELECT l_orderkey FROM lineitem WHERE l_orderkey > 300
GROUP BY l_orderkey HAVING MAX(l_quantity) > 45
