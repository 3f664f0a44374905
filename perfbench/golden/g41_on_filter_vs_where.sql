-- Ported from join_filters.q:3-6 (filter in the ON clause of an outer
-- join restricts the JOIN SIDE, not the result — rows failing the ON
-- filter still appear null-extended, unlike a WHERE filter).
SELECT n_name, r_name
FROM nation LEFT OUTER JOIN region
  ON n_regionkey = r_regionkey AND r_regionkey < 2
ORDER BY n_name
