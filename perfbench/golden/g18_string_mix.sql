SELECT c_custkey,
       concat_ws('-', upper(substr(c_name, 1, 4)), lpad(CAST(c_custkey AS VARCHAR(10)), 6, '0')) AS tag,
       reverse(substr(c_mktsegment, 1, 5)) AS rseg,
       CAST(instr(c_name, '0') AS BIGINT) AS pos_zero,
       repeat(substr(c_mktsegment, 1, 2), 2) AS rep2
FROM customer WHERE c_custkey <= 150 ORDER BY c_custkey
