-- Ported from clientpositive/udf_date_add.q / udf_date_sub.q /
-- udf_last_day.q shapes via shared interval spellings: +/- INTERVAL,
-- LAST_DAY, EXTRACT over a real date column.
SELECT o_orderkey AS k,
       CAST(o_orderdate + INTERVAL 3 DAY AS DATE) AS plus3,
       CAST(o_orderdate - INTERVAL 1 MONTH AS DATE) AS minus1m,
       LAST_DAY(CAST(o_orderdate AS DATE)) AS eom,
       EXTRACT(YEAR FROM o_orderdate) AS y,
       EXTRACT(MONTH FROM o_orderdate) AS m
FROM orders WHERE o_orderkey <= 40 ORDER BY k
