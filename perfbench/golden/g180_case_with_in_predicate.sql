-- Ported from udf_case.q's IN-predicate leg: CASE branches keyed by
-- IN-list membership, aggregated per branch label.
SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hot'
            WHEN o_orderpriority IN ('3-MEDIUM') THEN 'warm'
            ELSE 'cold' END AS tier,
       COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hot'
              WHEN o_orderpriority IN ('3-MEDIUM') THEN 'warm'
              ELSE 'cold' END
