-- Ported from the multi_distinct/conditional-agg composition: DISTINCT
-- applied to a CASE projection — count of distinct customers per status
-- restricted by a predicate inside the aggregate, alongside the
-- unrestricted distinct.
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS all_cust,
       CAST(COUNT(DISTINCT CASE WHEN o_orderstatus = 'O'
                                THEN o_custkey END) AS BIGINT) AS open_cust
FROM orders
GROUP BY o_orderpriority
