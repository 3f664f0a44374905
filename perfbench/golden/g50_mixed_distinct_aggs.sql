-- Ported from groupby multi-distinct shapes (groupby10.q family): a
-- DISTINCT aggregate mixed with plain aggregates in one GROUP BY.
SELECT o_orderstatus,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(o_totalprice), 2) AS avg_price
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
