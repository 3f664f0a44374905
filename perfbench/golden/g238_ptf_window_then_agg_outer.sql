-- ptf.q "PTF output feeding a group-by" shape: window in a derived
-- table, aggregation outside it.
SELECT p_brand, MAX(r) AS n_names, ROUND(AVG(run), 2) AS avg_run
FROM (SELECT p_brand,
             RANK() OVER (PARTITION BY p_brand ORDER BY p_name) AS r,
             SUM(p_retailprice) OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM part) x
GROUP BY p_brand
