SELECT supp_nation, cust_nation, l_year,
        CAST(SUM(volume) AS DOUBLE) AS revenue
      FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
              CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume
            FROM supplier, lineitem, orders, customer, nation n1, nation n2
            WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
              AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
              AND c_nationkey = n2.n_nationkey
              AND ((n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_12')
                OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_7'))
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01') shipping
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year
