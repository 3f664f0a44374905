-- Ported from union_distinct shapes (HiveParser setOpSelectStatement;
-- union31.q family): UNION DISTINCT stacked over UNION ALL — the
-- DISTINCT applies to its own operands per ANSI precedence (left-assoc,
-- ALL and DISTINCT same precedence in both engines).
SELECT k FROM (
  SELECT o_orderkey % 10 AS k FROM orders WHERE o_orderkey <= 500
  UNION ALL
  SELECT o_orderkey % 7 AS k FROM orders WHERE o_orderkey <= 500
  UNION DISTINCT
  SELECT o_orderkey % 5 AS k FROM orders WHERE o_orderkey <= 500
) u
