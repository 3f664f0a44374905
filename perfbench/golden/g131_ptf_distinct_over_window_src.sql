-- Ported from ptf.q case 15 (testDistinctInSelectWithPTF): SELECT DISTINCT
-- over a window-ordered source collapses to the distinct value set.
SELECT DISTINCT p_brand, p_type, p_size
FROM (
  SELECT p_brand, p_type, p_size,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_name) AS rn
  FROM part
)
