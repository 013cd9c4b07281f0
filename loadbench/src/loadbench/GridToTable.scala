package loadbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.{AxisSpec, BBox, GridDataset}
import graft.operators.{Gssha, PointExtract, SpatialResample, TemporalResample}
import graft.sources.{LakeAdapter, TableSink}

/** The analyst path: a stream of equal-size gridded requests (bbox x
  * two-day window x two variables) against a generated Parquet grid
  * lake forty times larger than one request. Each request
  * loads and crops, regrids bilinearly x2, downsamples to 6-hourly
  * means, extracts a four-station point table, writes it, and renders
  * the GSSHA WES lines.
  *
  * The lake's variables are a closed form that is affine in (x, y), so
  * bilinear interpolation reproduces it exactly at interior target
  * cells; the check recomputes sampled tables from that closed form.
  */
final class GridToTable(spark: SparkSession, seed: Long, val iterations: Int,
                        work: Path) extends Workload {
  import GridToTable._

  val warmups = 2
  private val lakeRoot = work.resolve("lake")
  private val outRoot = work.resolve("out")

  final case class Request(ix0: Int, iy0: Int, day: Int,
                           stations: Seq[(String, Double, Double)])
  private var requests: IndexedSeq[Request] = IndexedSeq.empty

  def setup(): (Long, Long) = {
    val r = new SplittableRandom(seed * 7919L + 11L)
    requests = IndexedSeq.fill(warmups + iterations) {
      val ix0 = r.nextInt(NX - W + 1)
      val iy0 = r.nextInt(NY - W + 1)
      // station ids sit on interior target cells [1, 2W-2] so the
      // bilinear stencil never clamps at the crop edge
      val stations = (0 until Stations).map { s =>
        val tx = 1 + r.nextInt(2 * W - 2)
        val ty = 1 + r.nextInt(2 * W - 2)
        val jitter = (r.nextDouble() - 0.5) * Step2 * 0.6
        (s"p$s", targetCenter(X0 + ix0 * Step, tx) + jitter,
          targetCenter(Y0 + iy0 * Step, ty) - jitter)
      }
      Request(ix0, iy0, r.nextInt(Days - WindowDays + 1), stations)
    }
    val cells = NX.toLong * NY
    val rows = Days * 24L * cells
    val h = floor(col("id") / cells)
    spark.range(rows)
      .select(h.as("h"), (floor(col("id") / NX) % NY).as("j"), (col("id") % NX).as("i"))
      .select(
        timestamp_seconds(lit(T0) + col("h") * 3600L).as("time"),
        (lit(Y0) + col("j") * lit(Step)).as("y"),
        (lit(X0) + col("i") * lit(Step)).as("x"),
        (lit(250.0) + lit(0.8) * (lit(X0) + col("i") * lit(Step)) +
          lit(0.5) * (lit(Y0) + col("j") * lit(Step)) +
          lit(6.0) * sin(lit(2 * math.Pi / 24) * (col("h") % 24))).as("t2m"),
        (lit(4.0) + lit(0.05) * (lit(X0) + col("i") * lit(Step)) -
          lit(0.03) * (lit(Y0) + col("j") * lit(Step)) + lit(0.001) * col("h")).as("u100"),
        floor(col("h") / 24).as("day"))
      .repartition(col("day"))
      .sortWithinPartitions("time", "y", "x")
      .write.mode("overwrite").partitionBy("day").parquet(lakeRoot.resolve(Dataset).toString)
    LakeAdapter.root = lakeRoot.toString
    (rows, FileTree.size(lakeRoot))
  }

  private def tablePath(i: Int) = outRoot.resolve(s"tables/req=$i.parquet")
  private def wesPath(i: Int) = outRoot.resolve(s"wes/req=$i.txt")
  def outputsOf(i: Int): Seq[Path] = Seq(tablePath(i), wesPath(i))

  private def forceGrid(tr: Tracer)(g: GridDataset): GridDataset =
    g.copy(df = tr.materialize(g.df))

  def iteration(i: Int, tr: Tracer): Seq[(String, Long)] = {
    val q = requests(i)
    val west = X0 + q.ix0 * Step
    val south = Y0 + q.iy0 * Step
    val bbox = BBox(west, south, west + (W - 1) * Step, south + (W - 1) * Step)
    val start = java.time.Instant.ofEpochSecond(T0 + q.day * 86400L)
    val end = start.plusSeconds(WindowDays * 86400L - 3600L)
    val loaded = tr.span("sources.LakeAdapter.load")(
      LakeAdapter.load(spark, Dataset, Seq("t2m", "u100"), Some(bbox),
        Some((ts(start), ts(end)))))(forceGrid(tr))
    // the lake is schema-on-read, so the caller supplies the uniform
    // axes of the cropped extent (it knows the dataset's grid)
    val g = loaded.copy(meta = loaded.meta.copy(
      xAxis = Some(AxisSpec(west, Step, W)), yAxis = Some(AxisSpec(south, Step, W))))
    val fine = tr.span("operators.SpatialResample.bilinear")(
      SpatialResample.bilinear(g, 2.0, 2.0))(forceGrid(tr))
    val coarse = tr.span("operators.TemporalResample.downsample")(
      TemporalResample.downsample(fine, "6 hours", "mean"))(forceGrid(tr))
    val table = tr.df("operators.PointExtract.pointsToTable")(
      PointExtract.pointsToTable(coarse, q.stations, "t2m"))
    tr.run("sources.TableSink.write")(TableSink.write(table, tablePath(i).toString))
    val wes = tr.df("operators.Gssha.wesRows")(
      Gssha.wesRows(coarse, Map("t2m" -> "Dry Bulb Temperature", "u100" -> "Wind Speed"),
        roundTo = Some(4)))
    val lines = wes.select("line").collect().map(_.getString(0))
    Files.createDirectories(wesPath(i).getParent)
    Files.write(wesPath(i), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Seq.empty
  }

  private var checkedUserBytes = 0L
  def userBytes: Long = checkedUserBytes

  def check(): CheckResult = {
    val timed = warmups until warmups + iterations
    // user output: the point tables' values (8-byte cells) and WES text
    checkedUserBytes = timed.map(i => Buckets * (1L + Stations) * 8L + FileTree.size(wesPath(i))).sum
    val sample = timed.filter(i => (i - warmups) % 5 == 0)
    val notes = sample.flatMap { i =>
      val q = requests(i)
      val rows = spark.read.parquet(tablePath(i).toString).orderBy("time").collect()
      val wesLines = new String(Files.readAllBytes(wesPath(i)), StandardCharsets.UTF_8)
        .split("\n").count(_.nonEmpty)
      val problems = Seq.newBuilder[String]
      if (rows.length != Buckets) problems += s"req $i: ${rows.length} table rows, want $Buckets"
      if (wesLines != Buckets) problems += s"req $i: $wesLines WES lines, want $Buckets"
      val x2 = snap(X0 + q.ix0 * Step, _: Double)
      val y2 = snap(Y0 + q.iy0 * Step, _: Double)
      for ((row, b) <- rows.zipWithIndex; ((id, lon, lat), s) <- q.stations.zipWithIndex) {
        val h0 = q.day * 24 + b * 6
        val want = (h0 until h0 + 6).map(h => t2m(h, x2(lon), y2(lat))).sum / 6
        val got = row.getAs[Double](id)
        if (math.abs(got - want) > Tolerance)
          problems += f"req $i bucket $b station $s: $got%.9f, want $want%.9f"
      }
      val r = problems.result()
      if (r.isEmpty) None else Some(r.mkString("; "))
    }
    CheckResult(notes.size, notes)
  }
}

object GridToTable {
  val Dataset = "grid"
  val NX = 24
  val NY = 24
  val Days = 20
  val X0 = -90.0
  val Y0 = 30.0
  val Step = 0.25
  val Step2 = Step / 2
  /** Request bbox is W x W source cells over WindowDays whole days. */
  val W = 12
  val WindowDays = 2
  val Buckets = WindowDays * 4
  val Stations = 4
  val T0 = 1577836800L // 2020-01-01T00:00:00Z
  /** Absolute tolerance on table values (~300): the engine's sums of
    * four bilinear weights and six hourly values round differently
    * from the closed form only in the last few bits.
    */
  val Tolerance = 1e-6

  /** Center of target cell `j` of a x2 regrid whose source crop starts
    * at `lo` (GDAL geometry: same extent, half-size cells).
    */
  def targetCenter(lo: Double, j: Int): Double = lo - Step / 2 + Step2 / 2 + j * Step2

  /** Nearest target-cell center to `v` (stations never sit on a tie). */
  def snap(lo: Double, v: Double): Double =
    targetCenter(lo, math.round((v - targetCenter(lo, 0)) / Step2).toInt)

  def t2m(h: Int, x: Double, y: Double): Double =
    250.0 + 0.8 * x + 0.5 * y + 6.0 * math.sin(2 * math.Pi / 24 * (h % 24))

  def ts(t: java.time.Instant): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(t)
}
