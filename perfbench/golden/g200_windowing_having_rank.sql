-- Ported from windowing.q:86-92 (testHavingWithWindowingCondRankNoGBY):
-- the rank-condition filter Hive spells as HAVING over a window —
-- portable spelling is the derived-table filter (the rewrite Hive's
-- analyzer applies), keeping the semantics: rows whose rank within
-- the brand is at most 5.
SELECT p_brand, p_name, p_size, r
FROM (
  SELECT p_brand, p_name, p_size,
         rank() OVER (PARTITION BY p_brand
                      ORDER BY p_name, p_partkey) AS r
  FROM part
) t
WHERE r <= 5
