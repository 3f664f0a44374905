-- Ported from ptf.q case 12 (testFunctionChain, noop-identity PTFs
-- elided): chained ranking + running sum over one partition spec.
SELECT p_brand, p_name, p_size,
       CAST(RANK() OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey) AS INT) AS r,
       CAST(DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey) AS INT) AS dr,
       ROUND(SUM(p_retailprice) OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS s1
FROM part
