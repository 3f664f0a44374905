-- Scalar subquery inside a CASE branch condition and result.
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CASE WHEN COUNT(*) > (SELECT COUNT(*) / 10 FROM customer)
            THEN 'major' ELSE 'minor' END AS size_class
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
