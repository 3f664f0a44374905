-- Ported from udf_when.q: simple and searched CASE with no ELSE branch
-- fall through to NULL.
SELECT o_orderkey,
       CASE o_orderstatus WHEN 'F' THEN 'finished' WHEN 'O' THEN 'open' END AS st,
       CASE WHEN o_totalprice > 200000 THEN 'big' END AS sz
FROM orders WHERE o_orderkey <= 200
