-- Ported from vector_string_concat.q / vectorized_string_funcs.q: the
-- string-function battery under whole-stage codegen.
SELECT o_orderkey,
       CONCAT(CONCAT(CONCAT('Quarter ', o_orderstatus), '-'), o_orderpriority) AS lab,
       UPPER(o_orderpriority) AS up,
       LOWER(o_orderpriority) AS lo,
       LENGTH(o_orderpriority) AS ln,
       SUBSTR(o_orderpriority, 1, 3) AS s13,
       SUBSTR(o_orderpriority, -3) AS sneg,
       TRIM(CONCAT(' ', o_orderstatus, ' ')) AS tr,
       LTRIM(CONCAT('  ', o_orderstatus)) AS ltr,
       RTRIM(CONCAT(o_orderstatus, '  ')) AS rtr,
       REPLACE(o_orderpriority, '-', '_') AS rep,
       REVERSE(o_orderstatus) AS rev,
       LPAD(o_orderstatus, 4, '*') AS lp,
       RPAD(o_orderstatus, 4, '*') AS rp,
       INSTR(o_orderpriority, '-') AS ix
FROM orders
WHERE o_orderkey <= 1000
