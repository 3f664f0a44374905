-- Ported from except_all.q (HIVE-12764): EXCEPT ALL subtracts per-row
-- multiplicity rather than deduplicating.
SELECT l_orderkey FROM lineitem WHERE l_orderkey <= 200
EXCEPT ALL
SELECT l_orderkey FROM lineitem WHERE l_orderkey <= 200 AND l_linenumber = 1
