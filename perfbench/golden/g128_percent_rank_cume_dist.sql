-- Ported from windowing_rank.q ranking-family tail: percent_rank,
-- cume_dist and ntile over the same fully-tiebroken spec (p_partkey
-- last) so both engines compute identical fractions.
SELECT p_partkey,
       ROUND(percent_rank() OVER w, 6) AS pr,
       ROUND(cume_dist() OVER w, 6) AS cd,
       CAST(ntile(7) OVER w AS INT) AS bucket
FROM part
WHERE p_size <= 25
WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
