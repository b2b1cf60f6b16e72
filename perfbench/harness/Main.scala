package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, SparkEntry}

/** One benchmark run in one JVM: set up a session, run the operations
  * given on the command line in that order, pass after pass, and write
  * every measurement to `<out>/run.json`. One client thread, closed
  * loop: an operation starts when the previous one has returned.
  *
  * Passes: the first is the cold pass; timed passes follow it directly
  * while the next one can end within `seconds`. There are no warm-up
  * passes: process CPU per pass keeps falling for about four passes (the
  * JIT is still compiling), longer than a run can take (README.md, "Run
  * budget"). With
  * `trace` on, timed passes alternate between untraced and traced, so
  * the run also yields its own tracing overhead.
  *
  * Arguments (all `--key value`): workload, data (fixture directory),
  * ops (comma-separated, in run order), seconds, trace, out, cpus, work
  * (work directory), fixtures (sf0.1 fixture directory), sql (tpch_sql:
  * directory of `<op>.sql` texts), probes (traced llm_pipeline: query
  * ids for the vector-index layer).
  */
object Main {

  /** Rows an operation returned, and the DataFrame that produced them. */
  final case class Result(df: DataFrame, rows: Array[Row])
  final case class Op(name: String, run: () => Result)

  /** Per-operation record of one pass. */
  final class OpRec(val name: String) {
    var latS = 0.0
    var buildS = 0.0
    var rewriteS = 0.0
    var status = "ok"
    var layer = Map.empty[String, Double]
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val dir = a("data")
    val out = new java.io.File(a("out"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val opNames = a("ops").split(",").toSeq

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val runStartNs = System.nanoTime()
    val steal0 = Counters.stealSeconds()
    val tracer = new Tracer(trace)
    val session = new java.util.LinkedHashMap[String, Any]()
    def timed[T](key: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tracer.span(key)(body)
      session.put(key + "_s", (System.nanoTime() - t0) / 1e9)
      r
    }

    val spark = timed("session.spark_start") {
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    timed("session.tune")(GraftSession.tune(spark))
    val tables = Workloads.tables(workload)
    timed("session.tables")(tables.foreach(t => GraftSession.table(spark, dir, t)))
    timed("session.table_memo")(tables.foreach(t => GraftSession.table(spark, dir, t)))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val listener = new ExecListener(cpus)
    val ops = Workloads.ops(workload, spark, dir, a.getOrElse("sql", ""), opNames, tracer)

    val passes = new java.util.ArrayList[java.util.Map[String, Any]]()
    var coldResults: Map[String, Result] = Map.empty
    var coldDigest: Map[String, Int] = Map.empty

    def runPass(kind: String, traced: Boolean): Double = {
      val sc = spark.sparkContext
      if (traced) { sc.addSparkListener(listener); listener.reset() }
      // one pass's garbage is not collected on the next one's time
      System.gc()
      val c0 = Counters.snap()
      val pass0 = System.nanoTime()
      val recs = tracer.span(s"pass.$kind") {
        ops.map { op =>
          val rec = new OpRec(op.name)
          val t0 = System.nanoTime()
          val r = try Some(tracer.span("op", op.name) {
            if (traced) sc.setJobGroup(tracer.current.toString, op.name)
            op.run()
          })
          catch {
            case NonFatal(e) =>
              rec.status = "error: " + String.valueOf(e.getMessage).linesIterator
                .take(1).mkString
              None
          }
          val t1 = System.nanoTime()
          rec.latS = (t1 - t0) / 1e9
          if (traced) {
            sc.clearJobGroup()
            Counters.drain(sc)
          }
          r.foreach { res =>
            val digest = Workloads.digest(res)
            coldDigest.get(op.name) match {
              case None => coldDigest += op.name -> digest
                coldResults += op.name -> res
              case Some(d) if d != digest => rec.status = "result differs from the cold pass"
              case _ =>
            }
          }
          if (traced) {
            val own = tracer.spans.filter(_.op == op.name)
            rec.buildS = own.filter(s => s.name == "queries.build" || s.name == "dialect.sql")
              .lastOption.map(_.dur).getOrElse(0.0)
            rec.rewriteS = own.filter(_.name == "dialect.rewrite").lastOption.map(_.dur)
              .getOrElse(0.0)
            rec.layer = r.map(res => PlanStats.of(res.df)).getOrElse(Map.empty) +
              ("exec.no_task_s" -> listener.noTaskSeconds(t0, t1))
          }
          rec
        }
      }
      val wall = (System.nanoTime() - pass0) / 1e9
      val c1 = Counters.snap()
      val p = new java.util.LinkedHashMap[String, Any]()
      p.put("kind", kind); p.put("traced", traced); p.put("wall_s", wall)
      Counters.delta(c0, c1).foreach { case (k, v) => p.put(k, v) }
      p.put("ops", recs.map { r =>
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("name", r.name); m.put("lat_s", r.latS); m.put("status", r.status)
        if (traced) {
          m.put("build_s", r.buildS); m.put("rewrite_s", r.rewriteS)
          m.put("layer", r.layer.asJava)
        }
        m
      }.asJava)
      if (traced) {
        sc.removeSparkListener(listener)
        val ex = new java.util.LinkedHashMap[String, Any]()
        ex.put("exec.jobs", listener.jobs.size); ex.put("exec.stages", listener.stages)
        ex.put("exec.tasks", listener.tasks.size)
        ex.put("exec.task_run_s", listener.taskRunNs / 1e9)
        ex.put("exec.task_cpu_s", listener.taskCpuNs / 1e9)
        ex.put("exec.slot_busy", listener.slotBusy(wall))
        ex.put("exec.input_rows", listener.inputRows)
        ex.put("exec.input_bytes", listener.inputBytes)
        ex.put("exec.shuffle_write_bytes", listener.shuffleWrite)
        ex.put("exec.shuffle_read_bytes", listener.shuffleRead)
        ex.put("exec.spill_bytes", listener.spill)
        ex.put("exec.peak_exec_memory_bytes", listener.peakExecMem)
        ex.put("exec.output_bytes", listener.outputBytes)
        p.put("exec", ex)
        // Spark jobs become spans under the part of the operation (build
        // or execution) in which they started
        val byId = tracer.spans.map(s => s.id -> s).toMap
        val kids = tracer.spans.groupBy(_.parent)
        listener.jobs.foreach { j =>
          byId.get(j.group.toIntOption.getOrElse(-1)).foreach { op =>
            val parent = kids.getOrElse(op.id, Nil)
              .find(k => k.startNs <= j.startNs && j.startNs <= k.endNs).getOrElse(op)
            tracer.spans += Span(-1000 - j.id, parent.id, "spark.job", op.op,
              j.startNs, math.max(j.endNs, j.startNs))
          }
        }
      }
      passes.add(p)
      wall
    }

    runPass("cold", trace)
    val timed0 = System.nanoTime()
    var n = 0
    var lastWall = 0.0
    // at least one timed pass (two when tracing: one untraced, one traced)
    val minTimed = if (trace) 2 else 1
    while (n < minTimed || (System.nanoTime() - timed0) / 1e9 + lastWall <= seconds) {
      lastWall = runPass("timed", trace && n % 2 == 1)
      n += 1
    }

    val extra =
      if (trace) Layers.after(workload, spark, dir, a("fixtures"),
        a.get("probes").toSeq.flatMap(_.split(",")).map(_.toLong), s"$work/index", out, tracer)
      else Map.empty[String, Double]

    // cold-pass results, for the checks against DuckDB
    coldResults.foreach { case (name, r) =>
      spark.createDataFrame(r.rows.toList.asJava, r.df.schema).coalesce(1)
        .write.mode("overwrite").parquet(new java.io.File(out, s"results/$name").getPath)
    }
    val oracle = SparkEntry.oracleSql
    val res = new java.util.LinkedHashMap[String, Any]()
    res.put("workload", workload)
    res.put("cpus", cpus)
    res.put("setup_s", setupS)
    res.put("session", session)
    res.put("passes", passes)
    res.put("layers", extra.asJava)
    res.put("oracle_sql", opNames.flatMap(n => oracle.get(n).map(n -> _)).toMap.asJava)
    res.put("steal_s", Counters.stealSeconds() - steal0)
    if (trace) tracer.spans += Span(-1, -2, "run", "", runStartNs, System.nanoTime())
    res.put("self_s", tracer.selfTimes.asJava)
    spark.stop()
    out.mkdirs()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.writeValue(new java.io.File(out, "run.json"), res)
    if (trace) {
      val spans = tracer.spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs).asJava
      }.asJava
      mapper.writeValue(new java.io.File(out, "spans.json"), spans)
    }
  }
}

/** Process-wide counters read at pass boundaries. */
object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def snap(): Map[String, Double] = Map(
    "cpu_s" -> os.getProcessCpuTime / 1e9,
    "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3,
    "compiles" -> org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount.toDouble,
    "classes_loaded" -> ManagementFactory.getClassLoadingMXBean
      .getTotalLoadedClassCount.toDouble,
    "steal_s" -> stealSeconds())

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }

  /** CPU steal of the whole machine, in seconds (`/proc/stat`). */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
        .filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }

  def drain(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.perfbench.Bus.drain(sc)
}
