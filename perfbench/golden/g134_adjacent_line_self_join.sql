-- Ported from the self-join shapes (join25.q family): adjacency
-- self-join — each line item matched to the NEXT line number of the
-- same order, comparing quantities across the pair.
SELECT a.l_orderkey,
       a.l_linenumber,
       CAST(a.l_quantity AS BIGINT) AS q_cur,
       CAST(b.l_quantity AS BIGINT) AS q_next
FROM lineitem a
JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey
 AND b.l_linenumber = a.l_linenumber + 1
WHERE a.l_orderkey <= 500
