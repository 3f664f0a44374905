-- Ported from cluster.q: CLUSTER BY over a filtered scan with qualified,
-- bare and star column references (result set identical to the filter —
-- CLUSTER BY only redistributes).
SELECT x.o_orderkey, x.o_orderstatus
FROM orders x
WHERE x.o_orderkey BETWEEN 20 AND 40
CLUSTER BY x.o_orderkey
