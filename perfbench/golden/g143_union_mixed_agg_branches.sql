-- Ported from union24.q: a 4-way UNION ALL where three branches are plain
-- filtered scans and the fourth re-aggregates under the same alias.
SELECT s.key, s.cnt FROM (
  SELECT o_orderstatus AS key, CAST(COUNT(1) AS BIGINT) AS cnt
  FROM orders WHERE o_orderkey < 1000 GROUP BY o_orderstatus
  UNION ALL
  SELECT o_orderstatus AS key, CAST(COUNT(1) AS BIGINT) AS cnt
  FROM orders WHERE o_orderkey < 1000 GROUP BY o_orderstatus
  UNION ALL
  SELECT o_orderpriority AS key, CAST(o_orderkey AS BIGINT) AS cnt
  FROM orders WHERE o_orderkey < 20
  UNION ALL
  SELECT o_orderpriority AS key, CAST(COUNT(1) AS BIGINT) AS cnt
  FROM orders WHERE o_orderkey < 1000 GROUP BY o_orderpriority
) s
