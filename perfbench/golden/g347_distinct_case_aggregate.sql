-- COUNT(DISTINCT CASE ...): conditional distinct counting per group.
SELECT o_orderstatus,
       CAST(COUNT(DISTINCT CASE WHEN o_totalprice > 150000
                                THEN o_custkey END) AS BIGINT) AS big_buyers,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS buyers
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
