-- Quote handling that Hive and ANSI agree on.  NOTE: ``'abc''def'`` is
-- deliberately absent — HiveQL lexes it as TWO adjacent literals and
-- concatenates ('abcdef', pinned by clientpositive/literal_string.q's
-- golden), while ANSI/DuckDB reads an escaped quote ('abc'def'); the
-- engine follows Hive, so the construct has no shared oracle.
SELECT 'abc' AS plain,
       'abc' || chr(39) || 'def' AS embedded_quote,
       LENGTH('abc') AS len_plain,
       UPPER('mixed Case') AS upcased
FROM region LIMIT 1
