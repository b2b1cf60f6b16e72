SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
      FROM part, lineitem, supplier, nation, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND p_size = 15 AND p_type = 'SMALL'
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND l_extendedprice / l_quantity = (
          SELECT MIN(l2.l_extendedprice / l2.l_quantity)
          FROM lineitem l2, supplier s2, nation n2, region r2
          WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
      ORDER BY s_acctbal DESC NULLS FIRST, n_name, s_name, p_partkey
      LIMIT 100
