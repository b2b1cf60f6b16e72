SELECT p_brand, p_type, p_size,
        COUNT(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem, part
      WHERE p_partkey = l_partkey
        AND p_brand <> 'Brand#5' AND p_type NOT LIKE 'STANDARD%'
        AND p_size IN (1, 15, 25, 35, 49)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC NULLS FIRST, p_brand, p_type, p_size
