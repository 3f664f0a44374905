-- Ported from the boolean-aggregate surface: bool_and / bool_or per
-- group plus their conditional forms.
SELECT o_orderpriority,
       bool_and(o_totalprice > 0) AS all_positive,
       bool_or(o_totalprice > 400000) AS any_jumbo,
       bool_and(o_custkey IS NOT NULL) AS keys_complete
FROM orders
GROUP BY o_orderpriority
