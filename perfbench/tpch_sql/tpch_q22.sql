SELECT cntrycode, COUNT(*) AS numcust,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      FROM (SELECT c_nationkey % 10 AS cntrycode, c_acctbal, c_custkey
            FROM customer
            WHERE c_nationkey % 10 IN (1,2,3,4,5,6,7)
              AND c_acctbal > (
                SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
                FROM customer
                WHERE c_acctbal > 0.0 AND c_nationkey % 10 IN (1,2,3,4,5,6,7))) custsale
      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
      GROUP BY cntrycode
      ORDER BY cntrycode
