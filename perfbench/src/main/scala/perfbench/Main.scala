package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** One benchmark workload. A job is one complete unit of user work; the
  * harness times jobs, the workload checks their outputs.
  */
trait Workload {
  /** Input records one job consumes once (pixels or table rows). */
  def records: Long
  /** Session settings of the entry point the workload stands for, with
    * `cpus` cores.
    */
  def conf(cpus: Int): Map[String, String]
  /** Run once per set-up, after the session starts. */
  def warmUp(spark: SparkSession): Unit
  /** Untimed work between set-up and the timed jobs: what the checks
    * compare against. Returns problems found.
    */
  def prepare(spark: SparkSession): Seq[String] = Nil
  /** Timed jobs a run makes at least, however long they take. */
  def minJobs: Int = 3
  /** One timed job. Returns what [[check]] reads ("" when a job leaves
    * nothing to check).
    */
  def run(spark: SparkSession, job: Int, tr: Tracer): String
  /** Problems in one job's output; runs outside the timed section. */
  def check(spark: SparkSession, out: String): Seq[String]
  /** Work after the timed jobs: the layer probes, when tracing. */
  def finish(spark: SparkSession, tr: Tracer): Unit = ()
  /** Per-layer metrics from the traced jobs' spans and the probes. */
  def layers(tr: Tracer): Map[String, Metric]
}

/** Entry point of one benchmark run; see perfbench/README.md.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --result <file> --trace-out <file> --launch-ms <epoch ms>
  * }}}
  */
object Main {
  val Workloads: Seq[String] = Seq("l3_multiday_5km", "catalog_graph_store")

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    val wl: Workload = name match {
      case "l3_multiday_5km" => new L3Workload(seed, work)
      case "catalog_graph_store" => new CatalogWorkload(seed, work)
      case other => sys.error(s"unknown workload $other; one of ${Workloads.mkString(", ")}")
    }

    // set-up: from JVM launch until the session is up and warmed up
    val launched = opt("launch-ms").toLong * 1000000L - wallToNano
    var spark = session(work, wl)
    wl.warmUp(spark)
    val setupS = (System.nanoTime() - launched) / 1e9
    log(f"set-up: $setupS%.2f s")
    // traced runs also restart the session in this JVM: set-up without
    // JVM start and class loading
    val restartS = if (!trace) Double.NaN else {
      val t0 = System.nanoTime()
      spark.stop()
      spark = session(work, wl)
      wl.warmUp(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      log(f"session restart: $dt%.2f s")
      dt
    }

    val problems = mutable.ArrayBuffer[String]()
    problems ++= wl.prepare(spark)
    log("prepared")
    val tr = new Tracer(spark)
    val wall, cpu, steal = mutable.ArrayBuffer[Double]()
    val tracedWall, untracedWall = mutable.ArrayBuffer[Double]()
    var attempted, failed = 0
    // a traced run needs one untraced and one traced job
    val minJobs = if (trace) wl.minJobs.max(2) else wl.minJobs
    while (wall.sum < seconds || attempted < minJobs) {
      // traced runs alternate untraced and traced jobs: the gap between
      // the two medians is the tracing overhead
      tr.switch(trace && attempted % 2 == 1)
      val (s0, c0, t0) = (stealTicks(), cpuNanos(), System.nanoTime())
      val out =
        try Right(tr.span("job")(wl.run(spark, attempted, tr)))
        catch { case e: Exception => Left(s"job $attempted threw: $e") }
      val dt = (System.nanoTime() - t0) / 1e9
      wall += dt
      cpu += (cpuNanos() - c0) / 1e9
      steal += (stealTicks() - s0) / 100.0
      (if (tr.enabled) tracedWall else untracedWall) += dt
      tr.switch(false)
      log(f"job $attempted: $dt%.2f s wall, ${cpu.last}%.2f s cpu")
      val bad = out.fold(Seq(_), o => wl.check(spark, o))
      log(s"job $attempted checked: ${bad.size} problems")
      if (bad.nonEmpty) failed += 1
      problems ++= bad
      attempted += 1
    }
    tr.switch(trace)
    wl.finish(spark, tr)
    tr.switch(false)

    val jobS = Stats.median(wall.toSeq)
    val metrics =
      if (!trace) Map(
        "job_s" -> Metric(jobS, "s"),
        "mrec_per_s" -> Metric(wl.records / jobS / 1e6, "Mrec/s"),
        "cpu_s" -> Metric(Stats.median(cpu.toSeq), "s"),
        "setup_s" -> Metric(setupS, "s"))
      else wl.layers(tr) ++ Map(
        "setup.restart_s" -> Metric(restartS, "s"),
        "host.steal_s" -> Metric(steal.sum, "s"),
        "failed_frac" -> Metric(failed.toDouble / attempted, "frac"),
        "trace.job_s" -> Metric(Stats.median(tracedWall.toSeq), "s"),
        "trace.untraced_job_s" -> Metric(Stats.median(untracedWall.toSeq), "s"),
        "trace.overhead_frac" -> Metric(
          Stats.median(tracedWall.toSeq) / Stats.median(untracedWall.toSeq) - 1, "frac"))
    if (trace) tr.dump(new File(opt("trace-out")))
    spark.stop()

    println(f"[perfbench] $name seed=$seed: $attempted jobs, $failed failed, job_s " +
      f"median ${Stats.median(wall.toSeq)}%.3f [${wall.min}%.3f..${wall.max}%.3f], " +
      f"cpu_s median ${Stats.median(cpu.toSeq)}%.2f, steal ${steal.sum}%.2f s, " +
      f"setup_s $setupS%.2f")
    val body = metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${Json.str(k)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}"
    }.mkString(",")
    Files.writeString(Paths.get(opt("result")),
      s"""{"correct":${problems.isEmpty},"attempted":$attempted,"failed":$failed,""" +
        s""""problems":[${problems.map(Json.str).mkString(",")}],"metrics":{$body}}""")
  }

  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f] $msg")

  private val wallToNano = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** A `local[nproc]` session with the workload's settings; its files
    * stay in the run's directory.
    */
  def session(work: File, wl: Workload): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config(wl.conf(cpus))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Host-wide steal ticks (1/100 s) from the aggregate `cpu` line. */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").lift(8).fold(0L)(_.toLong)
      finally src.close()
    } catch { case _: Exception => 0L }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
}
