SELECT l_shipmode,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM (SELECT o_orderpriority,
              CASE WHEN l_linenumber % 3 = 0 THEN 'AIR'
                   WHEN l_linenumber % 3 = 1 THEN 'SHIP'
                   ELSE 'TRUCK' END AS l_shipmode
            FROM orders, lineitem
            WHERE o_orderkey = l_orderkey
              AND l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01') x
      WHERE l_shipmode IN ('AIR','SHIP')
      GROUP BY l_shipmode
      ORDER BY l_shipmode
