-- Ported from udf_year/udf_month via the date_part spelling both
-- engines share: year/quarter/month/day extraction as grouping keys.
SELECT date_part('year', o_orderdate) AS y,
       date_part('quarter', o_orderdate) AS q,
       COUNT(*) AS n,
       CAST(MIN(date_part('day', o_orderdate)) AS BIGINT) AS min_day
FROM orders
GROUP BY date_part('year', o_orderdate), date_part('quarter', o_orderdate)
