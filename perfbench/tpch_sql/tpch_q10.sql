SELECT c_custkey, c_name, c_acctbal, n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1997-10-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC NULLS FIRST, c_custkey
      LIMIT 20
