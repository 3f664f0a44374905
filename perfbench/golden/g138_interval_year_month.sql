-- Ported from interval_arithmetic.q: INTERVAL year-to-month arithmetic on
-- DATE columns — both signs, both operand orders, plus date-minus-date
-- expressed as a day count.
WITH src AS (
  SELECT CAST(l_shipdate AS DATE) AS dateval
  FROM lineitem WHERE l_orderkey <= 100
)
SELECT dateval,
       CAST(dateval - INTERVAL '2-2' YEAR TO MONTH AS DATE) AS d_minus,
       CAST(dateval + INTERVAL '2-2' YEAR TO MONTH AS DATE) AS d_plus,
       CAST(INTERVAL '2-2' YEAR TO MONTH + dateval AS DATE) AS d_plus_comm,
       DATEDIFF(dateval, DATE '1995-06-07') AS days_from_fixed
FROM src
