SELECT c_count, COUNT(*) AS custdist
      FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
            GROUP BY c_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC NULLS FIRST, c_count DESC NULLS FIRST
