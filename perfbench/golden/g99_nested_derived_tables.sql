-- Ported from nested-subquery shapes (ppd2.q family): three levels of
-- derived tables, each adding a filter or computed column the outer
-- levels reference.  Computed columns stay integer so no cross-engine
-- double-rounding boundary can flip a value.
SELECT k, status, bucket3
FROM (
  SELECT k, status, k % 3 AS bucket3, price
  FROM (
    SELECT o_orderkey AS k, o_orderstatus AS status,
           o_totalprice AS price
    FROM (SELECT * FROM orders WHERE o_orderkey <= 500) inner1
    WHERE o_totalprice > 50000
  ) inner2
) outer1
WHERE price > 80000 AND bucket3 <> 1
