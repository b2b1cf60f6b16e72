SELECT n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC NULLS FIRST, n_name
