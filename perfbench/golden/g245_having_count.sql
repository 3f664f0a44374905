-- Ported from clientpositive/having.q (first case): HAVING on a
-- counted alias (src key/value adapted to lineitem).
SELECT COUNT(l_linenumber) AS c FROM lineitem
GROUP BY l_orderkey HAVING COUNT(l_linenumber) > 3
