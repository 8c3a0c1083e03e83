package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reports about the work done while one span was the
  * innermost open span. Listener threads write, the main thread reads
  * after draining the bus; every access holds the instance lock.
  */
final class Counters {
  val v: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(k: String, x: Double): Unit = synchronized { v(k) += x }
  def addAll(o: Counters): Unit = synchronized { o.v.foreach { case (k, x) => v(k) += x } }
  def apply(k: String): Double = synchronized { v(k) }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long) {
  var endNs: Long = -1L
  val own = new Counters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around each public call the benchmark makes, with Spark's task
  * and query counters attributed to the innermost open span. The bus is
  * drained at every span boundary, so an event delivered while a span is
  * innermost was caused by the work inside it. Switched off, `span` only
  * runs its body and no listener is registered.
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer[Span]()
  @volatile private var current: Option[Span] = None
  private var on = false
  private val sc = spark.sparkContext

  private def here(k: String, x: Double): Unit = current.foreach(_.own.add(k, x))

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = here("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = here("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      here("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        here("exec_cpu_s", m.executorCpuTime / 1e9)
        here("gc_s", m.jvmGCTime / 1e3)
        here("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        here("shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        here("spill_mb", m.diskBytesSpilled / 1e6)
        here("rows_read", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      here("queries", 1)
      here("plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
      here("exec_s", durationNs / 1e9)
      here("scans", Plans.scans(qe.executedPlan).toDouble)
      if (funcName == "collect") here("collect_rows", Plans.outputRows(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      here("failed_queries", 1)
  }

  def enabled: Boolean = on

  /** Start or stop recording; the listeners are attached only while on. */
  def switch(to: Boolean): Unit = if (to != on) {
    PerfbenchBus.drain(sc)
    if (to) {
      sc.addSparkListener(taskListener)
      spark.listenerManager.register(queryListener)
    } else {
      sc.removeSparkListener(taskListener)
      spark.listenerManager.unregister(queryListener)
    }
    on = to
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      PerfbenchBus.drain(sc)
      val parent = current
      val s = Span(spans.size, name, parent.fold(-1)(_.id), System.nanoTime())
      spans += s
      current = Some(s)
      try body
      finally {
        PerfbenchBus.drain(sc)
        s.endNs = System.nanoTime()
        current = parent
      }
    }

  /** Add a counter measured by the benchmark itself to the open span. */
  def note(k: String, x: Double): Unit = if (on) here(k, x)

  /** Every closed span called `name`, with its counters summed over the
    * span and all spans nested inside it.
    */
  def closed(name: String): Seq[(Span, Counters)] = {
    val kids = spans.groupBy(_.parent)
    def total(s: Span, acc: Counters): Unit = {
      acc.addAll(s.own)
      kids.getOrElse(s.id, Nil).foreach(total(_, acc))
    }
    spans.toSeq.filter(s => s.name == name && s.endNs > 0).map { s =>
      val acc = new Counters
      total(s, acc)
      s -> acc
    }
  }

  /** Write every span as one JSON object per line. */
  def dump(path: File): Unit = {
    path.getParentFile.mkdirs()
    val w = new PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val counters = s.own.v.toSeq.sortBy(_._1)
        .map { case (k, x) => s""""$k":${Json.num(x)}""" }.mkString(",")
      w.println(s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counters":{$counters}}""")
    } finally w.close()
  }
}

object Tracer {
  /** Counters every workload reports per job as `engine.<name>`. */
  val EngineMetrics: Seq[(String, String)] = Seq("plan_s" -> "s", "exec_s" -> "s",
    "exec_cpu_s" -> "s", "gc_s" -> "s", "stages" -> "count", "tasks" -> "count",
    "shuffle_write_mb" -> "MB", "shuffle_records" -> "count", "spill_mb" -> "MB")
}

/** Plan inspection through AQE stages and subqueries. */
object Plans extends AdaptiveSparkPlanHelper {
  def scans(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case b: BatchScanExec => b }.size

  /** Rows out of the topmost operator that counts them. */
  def outputRows(plan: SparkPlan): Double =
    find(plan)(_.metrics.contains("numOutputRows"))
      .fold(0.0)(_.metrics("numOutputRows").value.toDouble)
}
