-- Ported from clientpositive/cross_join.q: explicit CROSS JOIN of two
-- small dimension scans, counted (src x src adapted to region/nation).
SELECT CAST(COUNT(*) AS BIGINT) AS n FROM region CROSS JOIN nation
