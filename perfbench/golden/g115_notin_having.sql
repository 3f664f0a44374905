-- subquery_notin_having.q: NOT IN subquery in the HAVING clause —
-- both the uncorrelated form and the aggregate-on-aggregate form
SELECT tag, grp, m FROM (
  SELECT 'uncorr' AS tag, o_orderpriority AS grp,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM orders GROUP BY o_orderpriority
  HAVING o_orderpriority NOT IN
    (SELECT o_orderpriority FROM orders WHERE o_orderkey < 40)
  UNION ALL
  SELECT 'agg_vs_agg', p_brand, CAST(ROUND(MIN(p_retailprice)) AS BIGINT)
  FROM part GROUP BY p_brand
  HAVING p_brand NOT IN
    (SELECT p_brand FROM
       (SELECT p_brand, MIN(p_retailprice) l, MAX(p_retailprice) r
        FROM part GROUP BY p_brand) a
     WHERE r - l > 600)
) t
