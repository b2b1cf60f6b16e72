SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      FROM lineitem, part
      WHERE p_partkey = l_partkey AND (
        (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))
