SELECT o_orderstatus, o_orderkey,
       CAST(row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
FROM orders QUALIFY rn <= 2
