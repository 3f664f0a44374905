-- Ported from offset_limit.q: LIMIT with OFFSET over a deterministic
-- unique-key ordering.
SELECT o_orderkey, o_orderstatus
FROM orders
ORDER BY o_orderkey
LIMIT 10 OFFSET 5
