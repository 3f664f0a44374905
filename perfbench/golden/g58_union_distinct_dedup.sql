-- Ported from union distinct semantics (union3.q): UNION (distinct)
-- collapses duplicates across branches.
SELECT n_regionkey FROM nation WHERE n_nationkey < 10
UNION
SELECT n_regionkey FROM nation WHERE n_nationkey >= 5
ORDER BY n_regionkey
