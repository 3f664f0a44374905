-- Ported from type_widening.q: int/bigint/double mixing widens
-- deterministically in both engines.
SELECT l_orderkey,
       l_linenumber + l_orderkey AS int_plus_bigint,
       CAST(l_linenumber + l_quantity AS DOUBLE) AS int_plus_double,
       CAST(l_orderkey * 1.0 AS DOUBLE) AS bigint_times_double
FROM lineitem WHERE l_orderkey <= 100
