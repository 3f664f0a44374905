-- Ported from clientpositive/udf_hex.q: string→hex over column values
-- (both dialects emit uppercase digits).
SELECT n_nationkey AS k, HEX(n_name) AS h
FROM nation ORDER BY k
