-- Ported from clientpositive/ppd_join.q: two filtered derived tables
-- joined with an extra non-equi ON conjunct plus WHERE predicates that
-- push to either side (src adapted to customer self-join on nation key).
SELECT src1.c1, src2.c4
FROM (SELECT c_custkey AS c1, c_acctbal AS c2 FROM customer WHERE c_custkey > 10) src1
JOIN (SELECT c_custkey AS c3, c_mktsegment AS c4 FROM customer WHERE c_custkey > 20) src2
  ON src1.c1 = src2.c3 AND src1.c1 < 1400
WHERE src1.c1 > 200 AND (src1.c2 < 5000 OR src1.c1 > 300)
  AND (src2.c3 > 500 OR src1.c1 < 800) AND src2.c3 <> 1000
