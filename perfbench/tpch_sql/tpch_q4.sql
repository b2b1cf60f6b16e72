SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        AND o_orderdate < TIMESTAMP '1997-10-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
