SELECT s_name, s_acctbal
      FROM supplier
      WHERE s_suppkey IN (
          SELECT l_suppkey FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          GROUP BY l_suppkey
          HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 50.0)
        AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_13')
      ORDER BY s_name
