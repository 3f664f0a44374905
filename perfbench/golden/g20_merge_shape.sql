-- the MERGE rewrite shape as SQL text: full outer join + branch CASE
-- (q160's plan, expressed through the parser path)
SELECT COALESCE(o.o_orderkey, s.k) AS key,
       CASE WHEN o.o_orderkey IS NULL THEN 'N' ELSE o.o_orderstatus END AS status,
       ROUND(CASE WHEN s.k IS NOT NULL THEN s.new_price ELSE o.o_totalprice END, 2) AS price
FROM orders o
FULL OUTER JOIN (SELECT o_orderkey AS k, o_totalprice + 1000 AS new_price
                 FROM orders WHERE o_orderkey % 97 = 0) s
  ON o.o_orderkey = s.k
WHERE o.o_orderkey <= 400 OR o.o_orderkey IS NULL
