-- Ported from union_remove_19-adjacent shapes: UNION ALL mixing a
-- DISTINCT-projection branch, a grouped-aggregate branch, and a
-- filtered raw branch — three different reduce-side shapes under one
-- union sink.
SELECT key, vals FROM (
  SELECT DISTINCT lang AS key, CAST(-1 AS BIGINT) AS vals FROM documents
  UNION ALL
  SELECT source AS key, COUNT(1) AS vals
  FROM documents GROUP BY source
  UNION ALL
  SELECT lang AS key, CAST(doc_id AS BIGINT) AS vals
  FROM documents WHERE doc_id < 20
) u
