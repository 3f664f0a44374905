-- Ported from case_sensitivity.q / ct_case_insensitive.q: identifiers are
-- case-insensitive — mixed-case table aliases and column references
-- resolve to the same columns.
SELECT Alias1.O_ORDERKEY AS key1, alias1.o_OrderStatus AS stat1
FROM orders AlIaS1
WHERE ALIAS1.o_orderkey <= 100
