-- Ported from date_comparison.q: the full comparison-operator matrix over
-- equal and differing DATE literals.
SELECT CAST('2011-05-06' AS DATE) >  CAST('2011-05-06' AS DATE) AS gt_eqv,
       CAST('2011-05-06' AS DATE) <  CAST('2011-05-06' AS DATE) AS lt_eqv,
       CAST('2011-05-06' AS DATE) =  CAST('2011-05-06' AS DATE) AS eq_eqv,
       CAST('2011-05-06' AS DATE) <> CAST('2011-05-06' AS DATE) AS ne_eqv,
       CAST('2011-05-06' AS DATE) >= CAST('2011-05-06' AS DATE) AS ge_eqv,
       CAST('2011-05-06' AS DATE) <= CAST('2011-05-06' AS DATE) AS le_eqv,
       CAST('2011-05-05' AS DATE) >  CAST('2011-05-06' AS DATE) AS gt_diff,
       CAST('2011-05-05' AS DATE) <  CAST('2011-05-06' AS DATE) AS lt_diff,
       CAST('2011-05-05' AS DATE) =  CAST('2011-05-06' AS DATE) AS eq_diff,
       COUNT(*) AS n
FROM orders WHERE o_orderkey <= 10
GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9
