-- Ported from groupby13.q: the same column repeated in GROUP BY plus a
-- grouped expression (LEAST/COALESCE) also projected through an aggregate.
SELECT o_custkey,
       MAX(LEAST(COALESCE(CAST(o_orderkey AS INT), -279),
                 COALESCE(CAST(o_custkey AS INT), 476))) AS int_col
FROM orders
WHERE o_orderkey <= 1000
GROUP BY o_custkey, o_custkey,
         LEAST(COALESCE(CAST(o_orderkey AS INT), -279),
               COALESCE(CAST(o_custkey AS INT), 476))
