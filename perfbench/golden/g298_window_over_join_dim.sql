-- Ported from clientpositive/ptf.q join-feed shape with a dimension
-- partition key: rank suppliers within nation by total supply cost.
SELECT s_name, n_name, total, rnk FROM (
  SELECT s.s_name, n.n_name,
         ROUND(SUM(ps.ps_supplycost * ps.ps_availqty), 2) AS total,
         RANK() OVER (PARTITION BY n.n_name
                      ORDER BY SUM(ps.ps_supplycost * ps.ps_availqty) DESC,
                               s.s_name) AS rnk
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN part p ON p.p_partkey % 100 = s.s_suppkey % 100
  JOIN (SELECT p_partkey AS ps_partkey, p_retailprice AS ps_supplycost,
               p_size AS ps_availqty FROM part) ps
    ON ps.ps_partkey = p.p_partkey
  GROUP BY s.s_name, n.n_name
) ranked WHERE rnk <= 3
