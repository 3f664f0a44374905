-- Ported from having2.q: HAVING with an OR of aggregate predicates —
-- either condition admits the group.
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag, l_linestatus
HAVING COUNT(*) > 1000 OR MAX(l_quantity) >= 50
