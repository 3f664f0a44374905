-- Ported from order_null.q: ASC NULLS LAST / tie-broken ordering over a
-- key that is NULL for one status slice, rank-materialized so the sort
-- semantics survive the harness's order-insensitive diff.
SELECT o_orderkey, prio,
       ROW_NUMBER() OVER (ORDER BY prio ASC NULLS LAST, o_orderkey) AS rn
FROM (SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderpriority END AS prio
      FROM orders WHERE o_orderkey <= 200) t
