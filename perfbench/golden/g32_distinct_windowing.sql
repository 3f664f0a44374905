-- Ported from distinct_windowing.q:20 ("select distinct first_value(t)
-- over (partition by si order by i)"): DISTINCT over a windowed
-- first_value; per-partition-constant because the ordering key is
-- unique, so the distinct set is deterministic.
SELECT DISTINCT first_value(o_orderpriority)
    OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS fv
FROM orders
