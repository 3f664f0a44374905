-- Ported from clientpositive/join_merging.q: LEFT then RIGHT outer
-- chain where the second ON references BOTH earlier tables, including
-- a non-equi residual (p1.p_size > p2.p_size + 10 analogue).
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN p1k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_left
FROM (
  SELECT p1.o_orderkey AS p1k, p2.o_orderkey AS p2k, p3.o_orderkey AS p3k
  FROM (SELECT * FROM orders WHERE o_orderkey <= 600) p1
  LEFT OUTER JOIN (SELECT * FROM orders WHERE o_orderkey <= 400) p2
    ON p1.o_orderkey = p2.o_orderkey
  RIGHT OUTER JOIN (SELECT * FROM orders WHERE o_orderkey <= 800) p3
    ON p2.o_orderkey = p3.o_orderkey
   AND p1.o_totalprice > p2.o_totalprice - 10000
) t
