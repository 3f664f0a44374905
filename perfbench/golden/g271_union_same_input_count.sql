-- Ported from clientpositive/union2.q: UNION ALL of two scans of the
-- same input, counted above the union (src adapted to supplier).
SELECT CAST(COUNT(1) AS BIGINT) AS n
FROM (SELECT s1.s_suppkey AS key, s1.s_name AS value FROM supplier s1
      UNION ALL
      SELECT s2.s_suppkey AS key, s2.s_name AS value FROM supplier s2) unionsrc
