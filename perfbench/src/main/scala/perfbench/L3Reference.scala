package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.HDF5

/** The expected L3 grid of one job, computed with plain Spark `groupBy`
  * aggregates straight from the reference's definitions. It shares no
  * code with `graft.engine`, `graft.agg`, `graft.expr` or `graft.io`
  * beyond reading the same `GranuleSource` pixels:
  *
  *   - day window: the range plus hours 0-2 of the next day; values of
  *     hour < 3 pixels of the last day (lon in [-180,-90] or [0,90]) and
  *     of the spill day (lon in [90,180] or [-90,0]) are nulled;
  *   - cloud-mask flag: -1 when bit 0 is clear, else bits 1-2;
  *   - region: strict global bounds; cell = floor((lat+90)/Gap) * nLon +
  *     floor((lon+180)/Gap);
  *   - histograms: np.histogram bins, left-closed, the last bin closed;
  *   - cloud fraction per (cell, granule): TOT = #flag in 0..3, CLD =
  *     #flag in 0..1; per cell min/max of CLD/TOT, mean sum(CLD)/sum(TOT),
  *     Pixel_Counts sum(TOT), GRID_Counts #granules with TOT > 0; stored
  *     as value / 1e-4.
  *
  * [[compare]] reads the `.h5` back with `graft.io.HDF5.read`. Counts,
  * histograms, minima and maxima must match exactly; means and standard
  * deviations within [[RelTol]] relative plus [[AbsTol]] absolute, so a
  * change of summation order stays valid.
  */
object L3Reference {
  import L3Workload.Gap

  val RelTol = 1e-9
  val AbsTol = 1e-6
  val Fill = -9999.0

  /** Dense datasets by name: Array[Long] or Array[Double], row-major. */
  type Grids = Map[String, AnyRef]

  private def bin(v: Column, e: Seq[Double]): Column = {
    val n = e.size - 1
    (0 until n).foldRight(lit(null).cast("int")) { (i, acc) =>
      val upper = if (i == n - 1) v <= e(i + 1) else v < e(i + 1)
      when(v >= e(i) && upper, lit(i)).otherwise(acc)
    }
  }

  def compute(spark: SparkSession, spec: L3Spec, ctpEdges: Seq[Double],
      cttEdges: Seq[Double]): Grids = {
    val (ctp, ctt) = (L3Workload.Ctp, L3Workload.Ctt)
    val raw = spark.read.format("graft.sources.GranuleSource")
      .option("granules", spec.planned.mkString(","))
      .option("rows", spec.rows.toString).option("cols", spec.cols.toString)
      .load()
    val (doy, hour, lat, lon) = (col("day_of_year"), col("hour"), col("lat"), col("lon"))
    val d1 = spec.d1
    val nulled = hour < 3 && (
      (doy === d1 && ((lon >= -180 && lon <= -90) || (lon >= 0 && lon <= 90))) ||
        (doy === d1 + 1 && ((lon >= 90 && lon <= 180) || (lon >= -90 && lon <= 0))))
    def keep(c: Column) = when(nulled, lit(null)).otherwise(c)
    val cm = col("cm_byte")
    val flag = when((cm % 2) === 0, lit(-1)).otherwise(floor(cm / 2) % 4)
    val cells = spec.nLat.toLong * spec.nLon
    val px = raw
      .select(col("granule_id"), lat, lon, keep(col(ctp)).as("p"), keep(col(ctt)).as("t"),
        keep(flag).as("flag"))
      .filter(lat > -90 && lat < 90 && lon > -180 && lon < 180)
      .withColumn("cell", floor((lat + 90) / Gap) * spec.nLon + floor((lon + 180) / Gap))
      .filter(col("cell") >= 0 && col("cell") < cells)
      .withColumn("pb", bin(col("p"), ctpEdges))
      .withColumn("tb", bin(col("t"), cttEdges))

    val n = cells.toInt
    val out = mutable.Map[String, AnyRef]()
    def doubles(name: String) =
      out.getOrElseUpdate(name, Array.fill(n)(Fill)).asInstanceOf[Array[Double]]
    def longs(name: String, size: Int = n) =
      out.getOrElseUpdate(name, new Array[Long](size)).asInstanceOf[Array[Long]]

    val vars = Seq("p" -> ctp, "t" -> ctt)
    val stats = vars.flatMap { case (c, _) =>
      Seq(min(c), max(c), avg(c), count(c), stddev_pop(c)) }
    px.groupBy("cell").agg(stats.head, stats.tail: _*).collect().foreach { r =>
      val i = r.getLong(0).toInt
      for (((_, v), k) <- vars.zipWithIndex; at = 1 + 5 * k) {
        Seq("Minimum" -> at, "Maximum" -> (at + 1), "Mean" -> (at + 2),
          "Standard_Deviation" -> (at + 4)).foreach { case (s, j) =>
          doubles(s"${v}_$s")(i) = if (r.isNullAt(j)) Fill else r.getDouble(j)
        }
        longs(s"${v}_Pixel_Counts")(i) = r.getLong(at + 3)
      }
    }

    // one (cell, CTP bin, CTT bin) count gives both 1-D histograms (a
    // NULL bin of the other variable included) and the joint one
    val (np, nt) = (ctpEdges.size - 1, cttEdges.size - 1)
    val hp = longs(s"${ctp}_Histogram_Counts", n * np)
    val ht = longs(s"${ctt}_Histogram_Counts", n * nt)
    val hj = longs(s"${ctp}_Jhisto_vs_$ctt", n * np * nt)
    px.groupBy("cell", "pb", "tb").count().collect().foreach { r =>
      val i = r.getLong(0).toInt
      val k = r.getLong(3)
      if (!r.isNullAt(1)) hp(i * np + r.getInt(1)) += k
      if (!r.isNullAt(2)) ht(i * nt + r.getInt(2)) += k
      if (!r.isNullAt(1) && !r.isNullAt(2)) hj((i * np + r.getInt(1)) * nt + r.getInt(2)) += k
    }

    val f = col("flag")
    px.groupBy("cell", "granule_id")
      .agg(sum(when(f >= 0 && f <= 3, 1L).otherwise(0L)).as("tot"),
        sum(when(f >= 0 && f <= 1, 1L).otherwise(0L)).as("cld"))
      .groupBy("cell")
      .agg(min(when(col("tot") > 0, col("cld") / col("tot"))),
        max(when(col("tot") > 0, col("cld") / col("tot"))),
        sum("cld"), sum("tot"), count(when(col("tot") > 0, 1)))
      .collect().foreach { r =>
        val i = r.getLong(0).toInt
        val (cld, tot) = (r.getLong(3), r.getLong(4))
        doubles("cloud_fraction_Minimum")(i) = if (r.isNullAt(1)) Fill else r.getDouble(1) / 1e-4
        doubles("cloud_fraction_Maximum")(i) = if (r.isNullAt(2)) Fill else r.getDouble(2) / 1e-4
        doubles("cloud_fraction_Mean")(i) = if (tot > 0) cld.toDouble / tot / 1e-4 else Fill
        longs("cloud_fraction_Pixel_Counts")(i) = tot
        longs("GRID_Counts")(i) = r.getLong(5)
      }
    out("lat_bnd") = Array.tabulate(spec.nLat)(i => -90 + Gap / 2 + i * Gap)
    out("lon_bnd") = Array.tabulate(spec.nLon)(i => -180 + Gap / 2 + i * Gap)
    out.toMap
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= RelTol * math.max(math.abs(a), math.abs(b)) + AbsTol

  /** Problems found in `file` against `want`; empty when it matches. */
  def compare(file: HDF5.H5File, want: Grids): Seq[String] = {
    val got = file.datasets.map(d => d.name -> d).toMap
    val problems = mutable.ArrayBuffer[String]()
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    if (missing.nonEmpty) problems += s"missing datasets: ${missing.toSeq.sorted.mkString(",")}"
    if (extra.nonEmpty) problems += s"unexpected datasets: ${extra.toSeq.sorted.mkString(",")}"
    for ((name, w) <- want.toSeq.sortBy(_._1); d <- got.get(name)) {
      val tolerant = name.endsWith("_Mean") || name.endsWith("_Standard_Deviation") ||
        name.endsWith("_bnd")
      val fill = d.atts.collectFirst { case HDF5.Att("_FillValue", HDF5.DoubleAtt(x)) => x }
        .getOrElse(Fill)
      val bad: Seq[Int] = (w, d.data) match {
        case (e: Array[Long], g: Array[Long]) if e.length == g.length =>
          e.indices.filter(i => e(i) != g(i))
        case (e: Array[Double], g: Array[Double]) if e.length == g.length =>
          e.indices.filter { i =>
            val x = if (e(i) == Fill) fill else e(i)
            if (tolerant) !close(x, g(i)) else x != g(i)
          }
        case (e, g) => Seq(-1)
      }
      if (bad.nonEmpty) {
        val i = bad.head
        def at(a: AnyRef) = a match {
          case x: Array[Long] if i >= 0 && i < x.length => x(i).toString
          case x: Array[Double] if i >= 0 && i < x.length => x(i).toString
          case x => s"type/shape ${x.getClass.getSimpleName}"
        }
        problems += s"$name: ${bad.size} values differ, first at $i: got ${at(d.data)}, " +
          s"want ${at(w)}"
      }
    }
    problems.toSeq
  }
}
