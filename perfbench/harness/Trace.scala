package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One timed interval. `parent` is the id of the span that caused it:
  * the run span has id -1 and parent -2, and spans opened at the top
  * level are its children. Every span of one operation carries its `op`.
  */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long) {
  def dur: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the calls the benchmark makes into the
  * program. Kept in memory and written out when the run ends. With
  * tracing off, `span` only runs its body.
  */
final class Tracer(val on: Boolean) {
  val spans = new ArrayBuffer[Span]()
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0

  def span[T](name: String, op: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val o = if (op.nonEmpty) op else stack.headOption.map(_._2).getOrElse("")
      stack = (id, o) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, o, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Id of the innermost open span, used as the Spark job group. */
  def current: Int = stack.headOption.map(_._1).getOrElse(-1)

  /** Self time per span name: duration minus the part of it that its
    * direct children cover (children may overlap, as Spark jobs do).
    */
  def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    def covered(s: Span): Long = {
      var total = 0L; var end = s.startNs
      kids.getOrElse(s.id, Nil).map(k => (math.max(k.startNs, s.startNs),
        math.min(k.endNs, s.endNs))).sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
      total
    }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.dur - covered(s) / 1e9).sum
    }
  }
}

/** Task, stage and job counters from Spark's public listener interface,
  * reset at the start of each traced pass. Figures are read after the
  * listener bus has drained.
  */
final class ExecListener(slots: Int) extends SparkListener {
  final case class Job(id: Int, group: String, startNs: Long, var endNs: Long)
  val jobs = new ArrayBuffer[Job]()
  val tasks = new ArrayBuffer[(Long, Long)]() // launch, finish (epoch ms)
  var stages = 0L
  var taskRunNs = 0L
  var taskCpuNs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
  var outputBytes = 0L
  // listener time is epoch millis; map it onto the nanoTime axis
  private val nsAtEpoch0 = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def reset(): Unit = synchronized {
    jobs.clear(); tasks.clear()
    stages = 0; taskRunNs = 0; taskCpuNs = 0; inputRows = 0; inputBytes = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0; peakExecMem = 0
    outputBytes = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += Job(e.jobId, g, e.time * 1000000L + nsAtEpoch0, 0L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endNs = e.time * 1000000L + nsAtEpoch0)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      taskRunNs += m.executorRunTime * 1000000L
      taskCpuNs += m.executorCpuTime
      inputRows += m.inputMetrics.recordsRead
      inputBytes += m.inputMetrics.bytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Seconds of [t0, t1] (nanoTime) during which no task was running. */
  def noTaskSeconds(t0: Long, t1: Long): Double = synchronized {
    val iv = tasks.map { case (a, b) =>
      (math.max(t0, a * 1000000L + nsAtEpoch0),
        math.min(t1, b * 1000000L + nsAtEpoch0))
    }.filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    ((t1 - t0) - covered) / 1e9
  }

  def slotBusy(wallS: Double): Double =
    if (wallS <= 0) 0.0 else taskRunNs / 1e9 / (wallS * slots)
}

/** Join, exchange and runtime-filter counts in the final (adaptive)
  * physical plan, subqueries included.
  */
object PlanStats extends AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
  import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

  def of(df: DataFrame): Map[String, Double] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val plan: SparkPlan = qe.executedPlan
    def count(f: PartialFunction[SparkPlan, Int]): Double =
      collectWithSubqueries(plan)(f).sum.toDouble
    val phases = qe.tracker.phases
    def phase(p: String): Double =
      phases.get(p).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
    Map(
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "plan.broadcast_joins" -> count { case _: BroadcastHashJoinExec => 1 },
      "plan.smj_joins" -> count { case _: SortMergeJoinExec => 1 },
      "plan.exchanges" -> count { case _: ShuffleExchangeLike => 1 },
      "plan.runtime_filters" -> count { case p =>
        p.expressions.map(_.collect { case b: BloomFilterMightContain => 1 }.sum).sum
      })
  }
}
