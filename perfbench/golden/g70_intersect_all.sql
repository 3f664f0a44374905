-- Ported from intersect_all.q (HIVE-12764): INTERSECT ALL keeps multiset
-- multiplicity = min of the two sides' counts.
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_totalprice > 100000
