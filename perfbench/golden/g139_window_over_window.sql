-- Ported from the nested-PTF shapes (windowing.q testWindowingPTFWithGroupBy
-- composition): a second window over the output of a first — rank the
-- per-segment running totals computed in the derived table.
SELECT c_mktsegment, c_custkey, run_bal,
       CAST(RANK() OVER (PARTITION BY c_mktsegment
                         ORDER BY run_bal DESC, c_custkey) AS INT) AS r
FROM (
  SELECT c_mktsegment, c_custkey,
         ROUND(SUM(c_acctbal) OVER (PARTITION BY c_mktsegment
               ORDER BY c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_bal
  FROM customer
  WHERE c_custkey <= 300
) t
