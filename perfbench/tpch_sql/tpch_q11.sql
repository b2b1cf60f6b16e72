SELECT l_partkey,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS value
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_13'
      GROUP BY l_partkey
      HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) > (
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) * 0.001
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_13')
      ORDER BY value DESC NULLS FIRST, l_partkey
