-- Ported from input26.q: UNION ALL of two derived tables that are each
-- ORDER BY ... LIMIT'ed before the union (limits stay inside their
-- branches, the union must not re-limit).  Both branches ordered so the
-- cross-engine compare is deterministic.
SELECT * FROM (
  SELECT * FROM (SELECT o_orderkey AS k, o_orderstatus AS s FROM orders
                 WHERE o_orderstatus = 'F' ORDER BY o_orderkey LIMIT 5) pa
  UNION ALL
  SELECT * FROM (SELECT o_orderkey AS k, o_orderstatus AS s FROM orders
                 WHERE o_orderstatus = 'O' ORDER BY o_orderkey LIMIT 5) pb
) subq
