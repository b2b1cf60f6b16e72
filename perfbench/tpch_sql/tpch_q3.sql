SELECT l_orderkey,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        from_timestamp(o_orderdate, 'yyyy-MM-dd') AS o_orderdate, o_orderpriority
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey, from_timestamp(o_orderdate, 'yyyy-MM-dd'), o_orderpriority
      ORDER BY revenue DESC NULLS FIRST, o_orderdate, l_orderkey
      LIMIT 10
