SELECT s_name, COUNT(*) AS numwait
      FROM lineitem l1, orders, supplier, nation
      WHERE l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 180 DAY
        AND s_suppkey = l1.l_suppkey
        AND s_nationkey = n_nationkey AND n_name = 'NATION_13'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_orderkey = o3.o_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 180 DAY)
      GROUP BY s_name
      ORDER BY numwait DESC NULLS FIRST, s_name
      LIMIT 100
