-- Ported from clientpositive/fold_case.q shape: CASE folding in WHERE,
-- including the 1=NULL branch that must filter (three-valued logic).
SELECT CAST(COUNT(1) AS BIGINT) AS n
FROM orders
WHERE (CASE o_orderstatus WHEN 'F' THEN 1=1 ELSE 1=NULL END)
