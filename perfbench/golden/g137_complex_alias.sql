-- Ported from complex_alias.q: aliases re-exported under different names
-- through nested derived tables (a1 duplicated as a2), a UNION ALL with a
-- constant column, a self-referential join condition, and GROUP BY on the
-- re-aliased columns.
SELECT single_use_subq11.a1 AS a1,
       single_use_subq11.a2 AS a2
FROM   (SELECT SUM(agg1.o_totalprice) AS a1
        FROM   orders agg1
        WHERE  agg1.o_orderkey <= 50
        GROUP  BY agg1.o_custkey) single_use_subq12
       JOIN (SELECT alias.a2 AS a0,
                    alias.a1 AS a1,
                    alias.a1 AS a2
             FROM   (SELECT agg1.o_orderstatus AS a0,
                            '42'               AS a1,
                            agg1.o_custkey     AS a2
                     FROM   orders agg1 WHERE agg1.o_orderkey <= 50
                     UNION ALL
                     SELECT agg1.o_orderstatus AS a0,
                            '41'               AS a1,
                            agg1.o_custkey     AS a2
                     FROM   orders agg1 WHERE agg1.o_orderkey <= 50) alias
             GROUP  BY alias.a2,
                       alias.a1) single_use_subq11
         ON ( single_use_subq11.a0 = single_use_subq11.a0 )
