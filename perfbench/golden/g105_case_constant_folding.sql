-- Ported from fold_case.q / constprog_when_case.q: CASE branches that
-- fold to constants, including an always-true guard and a dead branch.
SELECT o_orderkey,
       CASE WHEN 1 = 1 THEN 'always' ELSE 'never' END AS folded,
       CASE WHEN o_orderkey < 0 THEN 'dead'
            WHEN o_orderkey >= 0 THEN 'live' END AS pruned,
       CASE o_orderstatus WHEN o_orderstatus THEN 'self' END AS self_match
FROM orders WHERE o_orderkey <= 100
