-- ptf.q test 11 (testHavingWithWindowingPTFNoGBY expressed legally):
-- filter on a window value via a derived table (Hive allowed HAVING
-- without GROUP BY over PTF output; ANSI spelling is a subquery filter).
SELECT p_brand, p_name, r FROM
  (SELECT p_brand, p_name,
          RANK() OVER (PARTITION BY p_brand ORDER BY p_name) AS r
   FROM part) x
WHERE r <= 3
