SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
