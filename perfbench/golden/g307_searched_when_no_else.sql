-- Ported from clientpositive/udf_when.q: searched CASE without ELSE
-- yields NULL on fall-through.
SELECT o_orderkey AS k,
       CASE WHEN o_totalprice > 200000 THEN 'big'
            WHEN o_totalprice > 100000 THEN 'mid' END AS bucket
FROM orders WHERE o_orderkey <= 50 ORDER BY k
