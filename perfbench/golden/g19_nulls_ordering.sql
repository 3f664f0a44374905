-- NULLS FIRST / NULLS LAST through the SQL-text surface (HIVE-12994);
-- rank materialized so the order-insensitive compare still checks placement
SELECT o_orderkey,
       ROW_NUMBER() OVER (ORDER BY v ASC NULLS FIRST, o_orderkey) AS rn_first,
       ROW_NUMBER() OVER (ORDER BY v DESC NULLS LAST, o_orderkey) AS rn_last
FROM (SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_totalprice END AS v
      FROM orders WHERE o_orderkey <= 150) t
