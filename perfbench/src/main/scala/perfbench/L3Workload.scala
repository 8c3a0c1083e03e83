package perfbench

import java.io.File
import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftCli
import graft.engine.ModisEngine
import graft.expr.GridExprs
import graft.io.{HDF5, L3Writer}

/** Granules of one multi-day L2 -> L3 job on the global
  * `L3Workload.Gap`-degree grid over the inclusive day-of-year range
  * [`d0`, `d1`].
  */
final case class L3Spec(granules: Seq[String], rows: Int, cols: Int, d0: Int, d1: Int) {
  val nLat: Int = math.round(180 / L3Workload.Gap).toInt
  val nLon: Int = math.round(360 / L3Workload.Gap).toInt

  /** Granules the day window keeps: the range plus the first three hours
    * of the day after it.
    */
  val planned: Seq[String] = granules.filter { g =>
    val (doy, hour) = (g.slice(5, 8).toInt, g.slice(9, 11).toInt)
    (doy >= d0 && doy <= d1) || (doy == d1 + 1 && hour < 3)
  }
  def pixels: Long = planned.size.toLong * rows * cols
}

/** The reference's canonical multi-day query through its own argv:
  * `GraftCli.parse` + `GraftCli.run` with `--format granule`, two days
  * (51 planned granule partitions, 21 spill-day partitions pruned), the
  * global 1-degree grid, all seven statistics with histograms on CTP and
  * CTT, the CTP x CTT joint histogram, and the cloud fraction. The seed
  * picks the start day. Granules are `rows` x `cols` pixels, which the
  * launcher passes to `GraftCli` as SPARK_GRAFT_GRANULE_ROWS/COLS.
  */
class L3Workload(seed: Long, work: File) extends Workload {
  import L3Workload._

  private val rows = sys.env.getOrElse("SPARK_GRAFT_GRANULE_ROWS", "64").toInt
  private val cols = sys.env.getOrElse("SPARK_GRAFT_GRANULE_COLS", "64").toInt
  private val start = LocalDate.of(2008, 1, 1).plusDays(seed.abs % 300)
  private val end = start.plusDays(Days - 1)
  val spec: L3Spec = L3Spec(GraftCli.granuleIds(start, end), rows, cols,
    start.getDayOfYear, end.getDayOfYear)

  def records: Long = spec.pixels
  /** `GraftCli.main`'s settings, with SPARK_GRAFT_CPUS = `cpus`. */
  def conf(cpus: Int): Map[String, String] =
    Map("spark.sql.shuffle.partitions" -> cpus.toString)
  // a fixed count: the JIT still speeds jobs up, so a count that varied
  // with job length would move the median
  override def minJobs: Int = 5

  private def jobDir(name: String): File = {
    val d = new File(work, s"out/$name")
    d.mkdirs()
    d
  }

  /** The reference's argv and config CSVs for a run writing into `out`. */
  private def argv(out: File, from: LocalDate, to: LocalDate): Array[String] = {
    def put(name: String, text: String): String = {
      val f = new File(out, name)
      Files.writeString(f.toPath, text)
      f.getPath
    }
    def edges(e: Seq[Double]) = e.mkString(",")
    def date(x: LocalDate) = f"${x.getYear}%04d/${x.getMonthValue}%02d/${x.getDayOfMonth}%02d"
    val dp = put("data_path.csv",
      s"""Data_input_path   File_prefix_name
         |unused   MYD06_L2.A
         |unused   MYD03.A
         |
         |Data_output_path   File_prefix_name
         |${out.getPath}   MYD08_L3
         |""".stripMargin)
    val vf = put("input_file.csv",
      s"""Variable_name   Intervals
         |$Ctp   ${edges(CtpEdges)}
         |$Ctt   ${edges(CttEdges)}
         |cloud_fraction_CM   0.02,0.5,0.95
         |""".stripMargin)
    val jf = put("input_Jhist.csv",
      s"""Variable_name   Joint_Variable_name   Variable_Index   Joint_Intervals
         |$Ctp   $Ctt   1   ${edges(CttEdges)}
         |""".stripMargin)
    Array("--format", "granule", dp, date(from), date(to), "[-90,90,-180,180]",
      s"[$Gap,$Gap]", "[1]", "1", "1", "1", "1", "1", "1", "1", vf, jf)
  }

  /** Pixel frame of `ids`, built the way `GraftCli.run` builds it. */
  private def pixels(spark: SparkSession, ids: Seq[String]): DataFrame =
    spark.read.format("graft.sources.GranuleSource")
      .option("granules", ids.mkString(","))
      .option("rows", rows.toString).option("cols", cols.toString)
      .load()
      .withColumn("cm_flag", GridExprs.cloudMaskFlag(col("cm_byte")))

  private var warmUps = 0

  /** The job's calls on four granules of a day outside the job's range. */
  def warmUp(spark: SparkSession): Unit = {
    warmUps += 1
    val day = LocalDate.of(2008, 12, 1).plusDays(warmUps)
    val out = jobDir(s"warm$warmUps")
    val cli = GraftCli.parse(argv(out, day, day))
    L3Writer.writeH5(
      ModisEngine.rangeL3(pixels(spark, GraftCli.granuleIds(day, day).take(4)), cli.cfg,
        day.getDayOfYear, day.getDayOfYear),
      cli.cfg, new File(out, "warm.h5").getPath)
  }

  def run(spark: SparkSession, job: Int, tr: Tracer): String = {
    val args = argv(jobDir(s"job$job"), start, end) // the config files are inputs
    val cli = tr.span("cli.parse")(GraftCli.parse(args))
    tr.span("cli.run")(GraftCli.run(spark, cli))
  }

  private var expected: L3Reference.Grids = Map.empty

  /** The expected grid, then one untimed job: the JIT is still warming
    * up through the first full-size job.
    */
  override def prepare(spark: SparkSession): Seq[String] = {
    expected = L3Reference.compute(spark, spec, CtpEdges, CttEdges)
    check(spark, run(spark, -1, new Tracer(spark)))
  }

  def check(spark: SparkSession, out: String): Seq[String] = {
    val problems = L3Reference.compare(HDF5.read(out), expected)
    new File(out).delete()
    problems
  }

  private var probes = Map.empty[String, Metric]

  /** The layer probes: a scan-only pass of the job's columns and day
    * window, and `writeH5` on a grid materialized beforehand.
    */
  override def finish(spark: SparkSession, tr: Tracer): Unit = if (tr.enabled) {
    val scan = pixels(spark, spec.granules)
      .select(Seq("granule_id", "day_of_year", "hour", "lat", "lon", "cm_flag", Ctp, Ctt)
        .map(col): _*)
      .filter((col("day_of_year") >= spec.d0 && col("day_of_year") <= spec.d1) ||
        (col("day_of_year") === spec.d1 + 1 && col("hour") < 3))
    val scanS = (1 to 3).map { _ =>
      tr.span("source.scan")(scan.write.format("noop").mode("overwrite").save())
      tr.closed("source.scan").last._1.seconds
    }
    val partitions = scan.rdd.getNumPartitions

    val cfg = GraftCli.parse(argv(jobDir("sink"), start, end)).cfg
    val grid = ModisEngine.rangeL3(pixels(spark, spec.granules), cfg, spec.d0, spec.d1)
      .localCheckpoint()
    val writes = (1 to 3).map { i =>
      val out = new File(jobDir(s"sink$i"), "sink.h5")
      tr.span("sink.write")(L3Writer.writeH5(grid, cfg, out.getPath))
      val mb = out.length() / 1e6
      out.delete()
      (tr.closed("sink.write").last, mb)
    }
    val writeS = Stats.median(writes.map(_._1._1.seconds))
    val ((_, sink), h5Mb) = writes.sortBy(_._1._1.seconds).apply(1)
    probes = Map(
      "source.scan_s" -> Metric(Stats.median(scanS), "s"),
      "source.partitions" -> Metric(partitions, "count"),
      "source.pruned_partitions" -> Metric(spec.granules.size - partitions, "count"),
      "sink.write_s" -> Metric(writeS, "s"),
      "sink.jobs" -> Metric(sink("jobs"), "count"),
      "sink.collect_rows" -> Metric(sink("collect_rows"), "count"),
      "sink.h5_mb" -> Metric(h5Mb, "MB"),
      "sink.h5_mb_per_s" -> Metric(h5Mb / writeS, "MB/s"))
  }

  def layers(tr: Tracer): Map[String, Metric] = {
    val jobs = tr.closed("job").map(_._2)
    def med(k: String): Double = Stats.median(jobs.map(_(k)))
    Map(
      "cli.parse_s" -> Metric(Stats.median(tr.closed("cli.parse").map(_._1.seconds)), "s"),
      "source.rows_read" -> Metric(med("rows_read"), "count"),
      "source.passes" -> Metric(med("rows_read") / spec.pixels, "x"),
      "engine.scans_per_plan" -> Metric(med("scans") / med("queries"), "count")
    ) ++ Tracer.EngineMetrics.map { case (k, u) => s"engine.$k" -> Metric(med(k), u) } ++
      probes ++ CatalogWorkload.Absent
  }
}

object L3Workload {
  val Days = 2
  /** Grid cell size in degrees. */
  val Gap = 1.0
  val Ctp = "Cloud_Top_Pressure"
  val Ctt = "Cloud_Top_Temperature"
  val CtpEdges: Seq[Double] = Seq(0.0, 200.0, 400.0, 600.0, 800.0, 1100.0)
  val CttEdges: Seq[Double] = Seq(180.0, 220.0, 260.0, 310.0)

  /** The L3 layer metrics on a workload that runs no L3 job. */
  val Absent: Map[String, Metric] = Seq(
    "cli.parse_s" -> "s", "source.scan_s" -> "s", "source.rows_read" -> "count",
    "source.partitions" -> "count", "source.pruned_partitions" -> "count",
    "source.passes" -> "x", "sink.write_s" -> "s", "sink.jobs" -> "count",
    "sink.collect_rows" -> "count", "sink.h5_mb" -> "MB", "sink.h5_mb_per_s" -> "MB/s")
    .map { case (k, u) => k -> Metric(0, u) }.toMap
}
