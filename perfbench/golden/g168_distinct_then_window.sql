-- Ported from distinct_windowing_no_cbo.q: DISTINCT feeding a window —
-- the dedup must happen before frame evaluation.
SELECT o_custkey, o_orderdate,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate) AS INT) AS visit_seq
FROM (SELECT DISTINCT o_custkey, o_orderdate FROM orders) d
WHERE o_custkey <= 50
