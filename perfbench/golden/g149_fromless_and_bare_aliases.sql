-- Ported from select_dummy_source.q (FROM-less SELECT over Hive's
-- _dummy_table) and select_as_omitted.q (column aliases without AS).
SELECT a, b, c, d FROM (
  SELECT 'a' a, 100 b, 1 + 1 c, UPPER('hello') d
) src1
ORDER BY a
