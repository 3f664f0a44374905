-- Ported from vectorized_math_funcs.q (minus rand()): the math-function
-- battery Hive runs end-to-end under vectorization, here over
-- whole-stage-codegen. All results rounded for cross-engine float safety.
SELECT o_orderkey,
       ROUND(o_totalprice, 2) AS r2,
       CAST(FLOOR(o_totalprice) AS BIGINT) AS fl,
       CAST(CEIL(o_totalprice) AS BIGINT) AS ce,
       ROUND(EXP(LN(o_totalprice)), 2) AS expln,
       ROUND(LN(o_totalprice), 6) AS lnv,
       ROUND(LOG10(o_totalprice), 6) AS l10,
       ROUND(LOG2(o_totalprice), 6) AS l2,
       ROUND(LOG(2.0, o_totalprice), 6) AS logb2,
       ROUND(POW(LOG2(o_totalprice), 2.0), 6) AS powv,
       ROUND(SQRT(o_totalprice), 6) AS sq,
       ABS(CAST(0 - o_orderkey AS BIGINT)) AS ab,
       CAST(o_orderkey % 3 AS BIGINT) AS mod3,
       ROUND(SIN(o_totalprice / 100000), 6) AS sn,
       ROUND(COS(o_totalprice / 100000), 6) AS cs,
       ROUND(ATAN(o_totalprice / 100000), 6) AS at,
       ROUND(DEGREES(o_totalprice / 100000), 4) AS dg,
       ROUND(RADIANS(o_totalprice / 100000), 6) AS rd,
       CAST(SIGN(o_totalprice - 150000) AS INT) AS sg
FROM orders
WHERE o_orderkey <= 1000 AND o_totalprice > 0
