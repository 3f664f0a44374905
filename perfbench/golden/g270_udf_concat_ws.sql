-- Ported from clientpositive/udf_concat_ws.q: separator join over
-- column values and literals.
SELECT CONCAT_WS('-', o_orderstatus, o_orderpriority) AS a,
       CONCAT_WS('.', 'www', 'face', 'book', 'com') AS b
FROM orders WHERE o_orderkey <= 20
