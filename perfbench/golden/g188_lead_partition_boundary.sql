-- Ported from windowing_navfn.q's boundary leg: LEAD at the end of a
-- partition yields NULL (not the next partition's row) — counted
-- explicitly so boundary bleed would flip the result.
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN nxt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_partition_tails
FROM (
  SELECT o_orderstatus,
         LEAD(o_orderkey) OVER (PARTITION BY o_custkey, o_orderstatus
                                ORDER BY o_orderkey) AS nxt
  FROM orders
) t
GROUP BY o_orderstatus
