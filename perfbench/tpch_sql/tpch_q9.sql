SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
          - CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / 10.0 AS sum_profit
      FROM part, supplier, lineitem, orders, nation
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%'
      GROUP BY n_name, CAST(EXTRACT(year FROM o_orderdate) AS INT)
      ORDER BY nation, o_year DESC NULLS FIRST
