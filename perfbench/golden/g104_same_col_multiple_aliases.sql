-- Ported from select_same_col.q: one source column projected several
-- times under different aliases, each transformed differently.
SELECT n_name AS raw_name,
       UPPER(n_name) AS upper_name,
       LENGTH(n_name) AS name_len,
       n_name || '!' AS bang_name
FROM nation
