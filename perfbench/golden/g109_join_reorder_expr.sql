-- join_reorder.q shape: join key is an arithmetic expression of the
-- other side (c.key+1 = a.key) — forces expression-keyed shuffle
SELECT a.n_nationkey AS akey, a.n_name AS aval, c.n_nationkey AS ckey
FROM nation a JOIN nation c ON c.n_nationkey + 1 = a.n_nationkey
