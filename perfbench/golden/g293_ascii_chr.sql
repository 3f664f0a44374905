-- Ported from clientpositive/udf_ascii.q: first-byte codepoint and the
-- chr inverse.
SELECT ASCII('A') AS a1, ASCII('abc') AS a2, CHR(66) AS c1, CHR(122) AS c2
FROM region LIMIT 1
