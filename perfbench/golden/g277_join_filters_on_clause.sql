-- Ported from clientpositive/join_filters.q: non-equi residual
-- predicates on BOTH sides inside the outer-join ON clause — rows
-- failing the ON filter still emerge null-extended from the
-- null-supplying side, unlike a WHERE filter.
WITH m AS (
  SELECT n_nationkey AS key, n_regionkey * 10 AS value FROM nation
)
SELECT a.key AS a_key, a.value AS a_value, b.key AS b_key, b.value AS b_value
FROM m a LEFT OUTER JOIN m b
  ON a.key = b.key AND a.key > 10 AND b.value > 20
