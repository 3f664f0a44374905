-- Ported from windowing_navfn.q: lead/lag with explicit offsets and
-- DEFAULT values at partition edges.
SELECT n_regionkey, n_nationkey,
       LAG(n_nationkey, 2, -1) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS lag2,
       LEAD(n_nationkey, 1, 999) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS lead1
FROM nation
ORDER BY n_regionkey, n_nationkey
