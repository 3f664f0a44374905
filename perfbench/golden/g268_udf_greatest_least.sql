-- Ported from clientpositive/udf_greatest.q + udf_least.q: mixed-sign
-- numeric and string variants, including NULL propagation.
SELECT GREATEST(l_suppkey, l_partkey, l_orderkey) AS g_num,
       LEAST(l_suppkey, l_partkey, l_orderkey) AS l_num,
       GREATEST(l_returnflag, l_linestatus) AS g_str,
       LEAST(l_returnflag, l_linestatus) AS l_str
FROM lineitem WHERE l_orderkey <= 50
