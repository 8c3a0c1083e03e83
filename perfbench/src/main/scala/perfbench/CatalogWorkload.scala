package perfbench

import java.io.File
import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.PerfbenchMemo

/** One sweep over the graph and store queries of the catalog through
  * `SparkEntry.queries`, every result computed in full into a `noop`
  * sink. The tables come from the launcher (`catalog_data.py`, the same
  * in every run, in `<work>/data`); the seed fixes the sweep order.
  * Before the timed sweeps each query runs once into parquet under
  * `<work>/oracle`, with its `SparkEntry.oracleSql`, for the launcher's
  * DuckDB compare.
  */
class CatalogWorkload(seed: Long, work: File) extends Workload {
  import CatalogWorkload._

  private val data = new File(work, "data").getPath
  private val order = new Random(seed).shuffle(Queries)
  private val tmp = new File(System.getProperty("java.io.tmpdir"))

  /** Rows of the tables each query reads, summed over the sweep. */
  val records: Long = {
    val rows = scala.io.Source.fromFile(new File(work, "data/rows.txt"))
    val n = try rows.getLines().map(_.split("\\s+")).map(a => a(0) -> a(1).toLong).toMap
    finally rows.close()
    Queries.map(q => Reads(q).map(n).sum).sum
  }

  /** `graft.Bench`'s settings, with SPARK_GRAFT_CPUS = `cpus`. */
  def conf(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1048576",
    "spark.sql.session.timeZone" -> "UTC")

  def warmUp(spark: SparkSession): Unit = runQuery(spark, "q_index_refresh")
  // a sweep takes longer than --seconds 10 on its own
  override def minJobs: Int = 2

  /** Files and bytes under `dir`, recursively. */
  private def du(dir: File): (Long, Long) =
    Option(dir.listFiles()).fold((0L, 0L))(_.foldLeft((0L, 0L)) { case ((n, b), f) =>
      if (f.isDirectory) { val (n2, b2) = du(f); (n + n2, b + b2) }
      else (n + 1, b + f.length())
    })

  /** Drop what a query cached or memoized, as a fresh session starts. */
  private def forget(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    PerfbenchMemo.clear()
  }

  /** Run one query into a `noop` sink, [[forget]] what it kept, and
    * delete the store directories it left under java.io.tmpdir. Returns
    * the files and bytes in those directories.
    */
  private def runQuery(spark: SparkSession, q: String): (Long, Long) = {
    val before = Option(tmp.list()).fold(Set.empty[String])(_.toSet)
    SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()
    forget(spark)
    val created = Option(tmp.listFiles()).fold(Seq.empty[File])(_.toSeq)
      .filter(f => !before(f.getName) && f.getName.startsWith("graft_"))
    val written = created.map(du).foldLeft((0L, 0L)) { case ((n, b), (n2, b2)) => (n + n2, b + b2) }
    created.foreach(deleteTree)
    written
  }

  def run(spark: SparkSession, job: Int, tr: Tracer): String = {
    for (q <- order) tr.span(s"catalog.$q") {
      val (files, bytes) = runQuery(spark, q)
      tr.note("files_written", files)
      tr.note("bytes_written", bytes)
    }
    ""
  }

  def check(spark: SparkSession, out: String): Seq[String] = Nil

  /** The check sweep: every query once into parquet, with its oracle SQL.
    * It runs before the timed sweeps, so it also warms them up.
    */
  override def prepare(spark: SparkSession): Seq[String] = {
    val dump = new File(work, "oracle")
    dump.mkdirs()
    for (q <- Queries) {
      SparkEntry.queries(q)(spark, data).write.parquet(new File(dump, q).getPath)
      forget(spark)
    }
    val sql = Queries.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
    Files.writeString(new File(dump, "oracle_sql.json").toPath, sql.mkString("{", ",", "}"))
    Nil
  }

  def layers(tr: Tracer): Map[String, Metric] = {
    val sweeps = tr.closed("job").map(_._2)
    def sweep(k: String): Double = Stats.median(sweeps.map(_(k)))
    val perQuery = Queries.flatMap { q =>
      val runs = tr.closed(s"catalog.$q")
      def med(k: String): Double = Stats.median(runs.map(_._2(k)))
      Seq(
        s"catalog.$q.s" -> Metric(Stats.median(runs.map(_._1.seconds)), "s"),
        s"catalog.$q.jobs" -> Metric(med("jobs"), "count"),
        s"catalog.$q.stages" -> Metric(med("stages"), "count"),
        s"catalog.$q.exec_cpu_s" -> Metric(med("exec_cpu_s"), "s"),
        s"catalog.$q.shuffle_write_mb" -> Metric(med("shuffle_write_mb"), "MB"),
        s"catalog.$q.files_written" -> Metric(med("files_written"), "count"),
        s"catalog.$q.bytes_written" -> Metric(med("bytes_written"), "B"))
    }
    val engine = Tracer.EngineMetrics.map { case (k, u) => s"engine.$k" -> Metric(sweep(k), u) }
    (perQuery ++ engine).toMap ++ L3Workload.Absent ++ Map(
      "engine.scans_per_plan" -> Metric(sweep("scans") / sweep("queries"), "count"))
  }
}

object CatalogWorkload {
  val Queries: Seq[String] = Seq("q_kcore", "q_components_refresh", "q_index_refresh")

  /** Tables each query reads. */
  val Reads: Map[String, Seq[String]] = Map(
    "q_kcore" -> Seq("orders", "lineitem"),
    "q_components_refresh" -> Seq("documents"),
    "q_index_refresh" -> Seq("documents"))

  /** The catalog metrics on a workload that runs no catalog query. */
  val Absent: Map[String, Metric] = Queries.flatMap { q =>
    Seq("s" -> "s", "jobs" -> "count", "stages" -> "count", "exec_cpu_s" -> "s",
      "shuffle_write_mb" -> "MB", "files_written" -> "count", "bytes_written" -> "B")
      .map { case (k, u) => s"catalog.$q.$k" -> Metric(0, u) }
  }.toMap

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
