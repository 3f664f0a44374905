-- ptf.q test 15 (testDistinctInSelectWithPTF): DISTINCT over the PTF
-- (identity) output.
SELECT DISTINCT p_brand, p_name, p_size FROM (SELECT * FROM part) ptf_out
