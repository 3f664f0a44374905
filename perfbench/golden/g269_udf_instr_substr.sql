-- Ported from clientpositive/udf_instr.q + udf_substr.q: position and
-- slicing battery over a real string column, including not-found → 0
-- and negative-start substr.
SELECT o_orderkey AS k,
       INSTR(o_orderpriority, '-') AS pos_dash,
       INSTR(o_orderpriority, 'zzz') AS pos_missing,
       SUBSTR(o_orderpriority, 1, 1) AS first_ch,
       SUBSTR(o_orderpriority, -3) AS last3
FROM orders WHERE o_orderkey <= 30
