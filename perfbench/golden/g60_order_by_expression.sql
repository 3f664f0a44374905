-- Ported from order2.q: ORDER BY on expressions not in the select list.
SELECT o_orderkey, o_orderstatus
FROM orders WHERE o_orderkey <= 100
ORDER BY o_totalprice DESC, o_orderkey
