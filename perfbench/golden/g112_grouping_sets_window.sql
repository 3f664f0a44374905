-- Ported from groupby_grouping_window.q: GROUPING SETS feeding a window
-- function — the Expand output is re-partitioned for ranking, with the
-- subtotal row (NULL l_linestatus) ranked alongside detail rows.
SELECT l_returnflag, l_linestatus, cnt,
       RANK() OVER (PARTITION BY l_returnflag
                    ORDER BY cnt DESC, l_linestatus NULLS FIRST) AS r
FROM (SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag))) t
