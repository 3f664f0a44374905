WITH hi AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000),
     bld AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
SELECT k, COUNT(*) AS n FROM (SELECT k FROM hi UNION ALL SELECT k FROM bld) GROUP BY k
