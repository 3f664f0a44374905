-- Ported from clientpositive/groupby3.q: the nine-aggregate battery —
-- sum/avg/avg(DISTINCT)/max/min/std-pop/std-samp/var-pop/var-samp over
-- one numeric column (src value adapted to lineitem quantity; rounded
-- identically in both dialects).
SELECT ROUND(SUM(l_quantity), 2) AS c1,
       ROUND(AVG(l_quantity), 6) AS c2,
       ROUND(AVG(DISTINCT l_quantity), 6) AS c3,
       MAX(l_quantity) AS c4,
       MIN(l_quantity) AS c5,
       ROUND(STDDEV_POP(l_quantity), 6) AS c6,
       ROUND(STDDEV_SAMP(l_quantity), 6) AS c7,
       ROUND(VAR_POP(l_quantity), 6) AS c8,
       ROUND(VAR_SAMP(l_quantity), 6) AS c9
FROM lineitem
