-- Ported from clientpositive/distinct_stats.q shape: SELECT DISTINCT *
-- over a projection with duplicated rows.
SELECT DISTINCT * FROM (
  SELECT l_returnflag, l_linestatus FROM lineitem
) t ORDER BY l_returnflag, l_linestatus
