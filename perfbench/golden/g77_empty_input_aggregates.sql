-- Ported from nullgroup.q: global aggregates over an empty input produce
-- exactly one row (COUNT 0, SUM/MAX NULL); a grouped aggregate would
-- produce none.
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_totalprice) AS DOUBLE) AS s,
       MAX(o_orderpriority) AS m
FROM orders WHERE o_orderkey < 0
