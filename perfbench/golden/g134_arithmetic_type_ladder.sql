-- Ported from cast1.q / ansi_sql_arithmetic.q: the numeric promotion
-- ladder — int+int, decimal+int both ways, int/int => non-integral
-- division (Hive and Spark both produce double for `/`), boolean casts.
SELECT CAST(3 + 2 AS INT) AS c1,
       CAST(3.0 + 2 AS DOUBLE) AS c2,
       CAST(3 + 2.0 AS DOUBLE) AS c3,
       CAST(3.0 + 2.0 AS DOUBLE) AS c4,
       CAST(3 + CAST(2.0 AS INT) + CAST(CAST(0 AS SMALLINT) AS INT) AS INT) AS c5,
       CAST(CAST(1 AS BOOLEAN) AS VARCHAR(8)) AS c6,
       CAST(CAST(TRUE AS INT) AS INT) AS c7,
       CAST(CAST(o_orderkey AS INT) / CAST(o_orderkey AS INT) AS DOUBLE) AS c8
FROM orders WHERE o_orderkey = 7
