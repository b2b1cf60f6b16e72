package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, ImpalaDialect, SparkEntry}

/** The operations of each workload, as calls into the program's public
  * functions. Operation names and order come from the command line.
  */
object Workloads {
  import Main.{Op, Result}

  /** Fixture tables each workload reads, loaded once during set-up. */
  def tables(workload: String): Seq[String] = workload match {
    case "tpch_sql" =>
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
    case "llm_pipeline" => Seq("documents")
  }

  def ops(workload: String, spark: SparkSession, dir: String, sqlDir: String,
      names: Seq[String], tracer: Tracer): Seq[Op] = {
    def exec(df: DataFrame): Result =
      Result(df, tracer.span("exec")(df.collect()))
    names.map { n =>
      workload match {
        case "llm_pipeline" =>
          val fn = SparkEntry.queries(n)
          Op(n, () => exec(tracer.span("queries.build")(fn(spark, dir))))
        case "tpch_sql" =>
          val text = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(sqlDir, s"$n.sql")), "UTF-8")
          Op(n, () => {
            if (tracer.on) tracer.span("dialect.rewrite")(ImpalaDialect.rewrite(text))
            exec(tracer.span("dialect.sql")(GraftSession.sql(spark, dir, text)))
          })
      }
    }
  }

  /** Order-insensitive digest of a result (schema and rows). */
  def digest(r: Result): Int =
    scala.util.hashing.MurmurHash3.orderedHash(
      r.df.schema.simpleString +: r.rows.map(_.toString).sorted.toSeq)
}
