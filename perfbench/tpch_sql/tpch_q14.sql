SELECT 100.0 *
        CAST(SUM(CASE WHEN p_type = 'PROMO'
          THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
          ELSE 0 END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS promo_revenue
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= TIMESTAMP '1997-09-01'
        AND l_shipdate < TIMESTAMP '1997-10-01'
