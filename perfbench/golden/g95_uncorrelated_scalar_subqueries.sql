-- Ported from subquery_scalar.q uncorrelated shapes: scalar subqueries
-- in both the select list and the WHERE predicate.
SELECT o_orderkey, o_totalprice,
       CAST((SELECT ROUND(AVG(o_totalprice), 2) FROM orders) AS DOUBLE) AS corpus_avg
FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.8 FROM orders)
