-- Ported from udf_regexp_extract.q: capture-group extraction including
-- the empty-string no-match result both engines share.
SELECT o_orderkey, o_orderpriority,
       regexp_extract(o_orderpriority, '([0-9]+)-([A-Z]+)', 1) AS prio_num,
       regexp_extract(o_orderpriority, '([0-9]+)-([A-Z]+)', 2) AS prio_word,
       regexp_extract(o_orderpriority, '(ZZZ)', 1) AS no_match
FROM orders WHERE o_orderkey <= 100
