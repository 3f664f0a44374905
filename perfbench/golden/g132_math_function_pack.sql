-- Ported from the udf_floor/udf_ceil/udf_abs/udf_pmod/udf_power family:
-- a math-surface digest.  Each per-row value is rounded to 6 decimals
-- before summation so cross-libm last-ulp differences cannot drift the
-- aggregate.
SELECT COUNT(*) AS n,
       CAST(SUM(FLOOR(o_totalprice)) AS BIGINT) AS fl,
       CAST(SUM(CEIL(o_totalprice)) AS BIGINT) AS ce,
       CAST(SUM(ABS(o_custkey - 750)) AS BIGINT) AS ab,
       CAST(SUM(MOD(o_orderkey, 97)) AS BIGINT) AS md,
       ROUND(SUM(ROUND(SQRT(o_totalprice), 6)), 2) AS sq,
       ROUND(SUM(ROUND(LN(o_totalprice + 1), 6)), 2) AS lg
FROM orders
WHERE o_totalprice > 0
