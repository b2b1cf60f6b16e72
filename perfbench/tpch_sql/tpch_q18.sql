SELECT c_name, c_custkey, o_orderkey,
        from_timestamp(o_orderdate, 'yyyy-MM-dd') AS o_orderdate, o_totalprice,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM customer, orders, lineitem
      WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
          HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 250.0)
        AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      GROUP BY c_name, c_custkey, o_orderkey, from_timestamp(o_orderdate, 'yyyy-MM-dd'), o_totalprice
      ORDER BY o_totalprice DESC NULLS FIRST, o_orderkey
      LIMIT 100
