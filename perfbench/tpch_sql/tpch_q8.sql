SELECT o_year,
        CAST(SUM(CASE WHEN supp_nation = 'NATION_6' THEN volume ELSE 0 END) AS DOUBLE)
          / CAST(SUM(volume) AS DOUBLE) AS mkt_share
      FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
              CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
              n2.n_name AS supp_nation
            FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
            WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
              AND l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
              AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND p_type = 'ECONOMY') all_nations
      GROUP BY o_year
      ORDER BY o_year
