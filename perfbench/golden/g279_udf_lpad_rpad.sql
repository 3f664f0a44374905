-- Ported from clientpositive/udf_lpad.q + udf_rpad.q: truncating pad,
-- single-char pad, multi-char repeating pad.
SELECT LPAD('hi', 1, '?') AS l1, LPAD('hi', 5, '.') AS l2,
       LPAD('hi', 6, '123') AS l3,
       RPAD('hi', 1, '?') AS r1, RPAD('hi', 5, '.') AS r2,
       RPAD('hi', 6, '123') AS r3
FROM region LIMIT 1
