-- Ported from clientpositive/union3.q: four constant-projection
-- branches each over a LIMIT 1 derived scan, unioned.
SELECT id FROM (
  SELECT 1 AS id FROM (SELECT * FROM region LIMIT 1) s1
  UNION ALL
  SELECT 2 AS id FROM (SELECT * FROM region LIMIT 1) s1
  UNION ALL
  SELECT 3 AS id FROM (SELECT * FROM region LIMIT 1) s2
  UNION ALL
  SELECT 4 AS id FROM (SELECT * FROM region LIMIT 1) s2
) a ORDER BY id
