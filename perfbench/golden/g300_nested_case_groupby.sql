-- Ported from clientpositive/case_sensitivity-adjacent CASE-in-GROUP-BY
-- shape: grouping on a computed CASE bucket.
SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 150000 THEN 'mid'
            ELSE 'high' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(o_totalprice), 2) AS avg_price
FROM orders
GROUP BY CASE WHEN o_totalprice < 50000 THEN 'low'
              WHEN o_totalprice < 150000 THEN 'mid'
              ELSE 'high' END
