SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
      FROM lineitem, part
      WHERE p_partkey = l_partkey
        AND p_brand = 'Brand#3' AND p_type = 'SMALL'
        AND l_quantity < 0.2 * (
          SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
          FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
