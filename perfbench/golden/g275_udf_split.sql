-- Ported from clientpositive/udf_split.q: regex split over literals
-- including a character-class pattern and an empty string.
SELECT SPLIT('a b c', ' ') AS s1,
       SPLIT('oneAtwoBthreeC', '[ABC]') AS s2,
       SPLIT('', '\.') AS s3
FROM region LIMIT 1
