package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SharedPlan
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.model.{AxisSpec, GridDataset, GridMeta}

/** Spatial resample / regrid (SURVEY.md §2.11 X1).
  *
  * Reference: `rio.reproject` to `(int(height*fy), int(width*fx))` with a
  * resampling kernel (reference: core_functions.py:258-347; target shape
  * at :317-318; default bilinear at :293-299). Re-expressed relationally:
  *
  *  1. build the target grid as a driver-local relation of cell indices
  *     (GDAL-style geometry: source cells are centers on a regular axis;
  *     the raster extent is [origin - step/2, last + step/2]; target
  *     cells are `n' = int(n*f)` equal subdivisions of the same extent,
  *     labeled at centers);
  *  2. map each target center into fractional source-index space;
  *  3. `nearest`: the containing source cell (floor), one equi-join;
  *     `bilinear`, `cubic`, `cubicSpline`, `lanczos`: the 2x2, 4x4 or
  *     6x6 tap window via a tap explode, one equi-join + weighted-sum
  *     groupBy ([[tapRegrid]]).
  *
  * The target-cell mapping is metadata-sized (n'x * n'y rows) and
  * broadcasts. Every per-request constant (the crop and target origins,
  * extents, a pushed-down station filter) lives in the projections and
  * filters over that local relation, which Catalyst folds into its rows
  * while optimizing; the tap stage that remains is the same generated
  * code for every request of a regrid kind, so warm requests reuse it.
  * An interpolating regrid's only shuffle exchanges the source crop
  * once, hash-partitioned on time, before the join; the groupBy keyed
  * by output cell runs inside those partitions, so the shuffle is
  * linear in input size and the plan survives 100x scale-up.
  *
  * That crop exchange is also where the plan is cut: it is planned once
  * per regrid ([[org.apache.spark.sql.graft.SharedPlan]]), and every
  * action over the regrid or anything derived from it (a point table, a
  * WES render) reads its one shuffle output, so a request's sinks scan
  * and exchange the crop once between them. Nothing above the cut
  * reaches the scan any more, so crop before regridding, in the
  * reference's order: a bbox, time window or variable selection written
  * after the regrid filters the regridded rows, not the Parquet read.
  *
  * A temporal downsample written directly over an interpolating regrid
  * ([[TemporalResample.downsample]]) re-plans it with that crop exchange
  * keyed by the downsample's time bucket instead of by time
  * ([[byBucket]]); the regrid and the downsample aggregate then both run
  * after the one exchange, and so do the point table's and the WES
  * rows' aggregates keyed by the bucket. A request exchanges the crop
  * once and nothing else of its size. A persisted or further derived
  * regrid output keeps the time-keyed plan, and the downsample adds its
  * own exchange above it.
  */
object SpatialResample {

  /** Target axis for a resample factor (GDAL geometry; public so the
    * oracle SQL in SparkEntry can be built from the same constants).
    */
  def targetAxis(src: AxisSpec, factor: Double): AxisSpec = {
    val n2 = (src.n * factor).toInt
    val extent = src.step * src.n
    val step2 = extent / n2
    val west = src.origin - src.step / 2.0
    AxisSpec(west + step2 / 2.0, step2, n2)
  }

  private val cellSchema = StructType(Seq(
    StructField("jy2", LongType, nullable = false),
    StructField("jx2", LongType, nullable = false)))

  /** Target-cell mapping: one row per output cell with its center and
    * its fractional position in source-center index space. The cell
    * indices are a driver-local relation (row-major, as `spark.range`
    * would number them), so the axis arithmetic here and in the callers'
    * projections folds into its rows instead of into generated code.
    * `createDataFrame` over Rows, not `toDF`: no reflection encoder.
    */
  private def mapping(spark: SparkSession, xa: AxisSpec, ya: AxisSpec,
                      fx: Double, fy: Double): (DataFrame, AxisSpec, AxisSpec) = {
    val xt = targetAxis(xa, fx); val yt = targetAxis(ya, fy)
    val cells = new java.util.ArrayList[Row](xt.n * yt.n)
    for (jy <- 0L until yt.n; jx <- 0L until xt.n) cells.add(Row(jy, jx))
    val x2 = lit(xt.origin) + col("jx2") * lit(xt.step)
    val y2 = lit(yt.origin) + col("jy2") * lit(yt.step)
    val m = spark.createDataFrame(cells, cellSchema).select(
      col("jy2"), col("jx2"), x2.as("x2"), y2.as("y2"),
      ((x2 - lit(xa.origin)) / lit(xa.step)).as("gx"),
      ((y2 - lit(ya.origin)) / lit(ya.step)).as("gy"))
    (m, xt, yt)
  }

  private def clampIdx(c: org.apache.spark.sql.Column, n: Int) =
    greatest(lit(0L), least(lit(n - 1L), c))

  /** Nearest-neighbor regrid: target center -> containing source cell
    * (GDAL nearest semantics: floor in pixel space, clamped at edges).
    * Requires integer index columns `jy`/`jx` on the grid (present on
    * lake/synthetic grids; derivable from axis metadata otherwise).
    */
  def nearest(g: GridDataset, fy: Double, fx: Double): GridDataset = {
    val (xa, ya) = axes(g)
    val (m, xt, yt) = mapping(g.df.sparkSession, xa, ya, fx, fy)
    val tgt = m.select(col("jy2"), col("jx2"), col("x2"), col("y2"),
      clampIdx(floor(col("gx") + 0.5).cast(LongType), xa.n).as("jx"),
      clampIdx(floor(col("gy") + 0.5).cast(LongType), ya.n).as("jy"))
    val src = withIndexes(g, xa, ya)
    val vars = g.variables
    val out = src
      .join(broadcast(tgt), Seq("jy", "jx"))
      .select((Seq(col(g.meta.timeDim), col("y2").as(g.meta.yDim),
                   col("x2").as(g.meta.xDim)) ++ vars.map(col)): _*)
    g.copy(df = out, meta = g.meta.copy(xAxis = Some(xt), yAxis = Some(yt)))
  }

  /** Bilinear regrid: weighted average of the 4 bracketing source cells
    * (edge-clamped, so border cells replicate — GDAL edge padding).
    */
  def bilinear(g: GridDataset, fy: Double, fx: Double): GridDataset = {
    val (xa, ya) = axes(g)
    val (m, xt, yt) = mapping(g.df.sparkSession, xa, ya, fx, fy)
    val withBracket = m.select(col("x2"), col("y2"),
      clampIdx(floor(col("gx")).cast(LongType), xa.n).as("jx0"),
      clampIdx(floor(col("gx")).cast(LongType) + 1, xa.n).as("jx1"),
      clampIdx(floor(col("gy")).cast(LongType), ya.n).as("jy0"),
      clampIdx(floor(col("gy")).cast(LongType) + 1, ya.n).as("jy1"),
      (col("gx") - floor(col("gx"))).as("wx1"),
      (col("gy") - floor(col("gy"))).as("wy1"))
    // 4 corners exploded: (jy, jx, weight) per target cell
    val corners = withBracket.select(col("x2"), col("y2"),
      explode(array(
        struct(col("jy0").as("jy"), col("jx0").as("jx"),
               ((lit(1.0) - col("wy1")) * (lit(1.0) - col("wx1"))).as("w")),
        struct(col("jy0").as("jy"), col("jx1").as("jx"),
               ((lit(1.0) - col("wy1")) * col("wx1")).as("w")),
        struct(col("jy1").as("jy"), col("jx0").as("jx"),
               (col("wy1") * (lit(1.0) - col("wx1"))).as("w")),
        struct(col("jy1").as("jy"), col("jx1").as("jx"),
               (col("wy1") * col("wx1")).as("w")))).as("c"))
      .select(col("x2"), col("y2"),
              col("c.jy").as("jy"), col("c.jx").as("jx"), col("c.w").as("w"))
      .filter(col("w") =!= 0.0)
    tapRegrid(g, xa, ya, xt, yt, corners)
  }

  /** Keys cubic-convolution kernel, a = -0.5 (the rasterio/GDAL
    * `cubic` resampling kernel; Keys 1981). Reproduces linear ramps
    * exactly and weights always sum to 1 per axis.
    */
  private def keysKernel(d: org.apache.spark.sql.Column) = {
    val ad = abs(d)
    when(ad <= 1.0, (lit(1.5) * ad - lit(2.5)) * ad * ad + lit(1.0))
      .when(ad < 2.0, ((lit(-0.5) * ad + lit(2.5)) * ad - lit(4.0)) * ad + lit(2.0))
      .otherwise(lit(0.0))
  }

  /** Cubic B-spline kernel B3 (rasterio/GDAL `cubic_spline`): the
    * smoothing (non-interpolating) 4-tap companion of Keys cubic, a
    * partition of unity so per-axis weights sum to 1 without
    * normalization.
    */
  private def bsplineKernel(d: org.apache.spark.sql.Column) = {
    val ad = abs(d)
    when(ad <= 1.0,
        (lit(4.0) - lit(6.0) * ad * ad + lit(3.0) * ad * ad * ad) / 6.0)
      .when(ad < 2.0,
        (lit(2.0) - ad) * (lit(2.0) - ad) * (lit(2.0) - ad) / 6.0)
      .otherwise(lit(0.0))
  }

  /** Bicubic regrid: 4x4 tap window per target cell (16-corner explode,
    * same join-aggregate shape as bilinear). Tap weights use the
    * unclamped tap distance; tap indices clamp at edges (replicate),
    * keeping the per-axis weight sum at 1 everywhere.
    */
  def cubic(g: GridDataset, fy: Double, fx: Double): GridDataset =
    windowRegrid(g, fy, fx, -1 to 2, keysKernel, normalize = false)

  /** GDAL `cubic_spline` regrid: the same 4x4 tap plan with B3 weights. */
  def cubicSpline(g: GridDataset, fy: Double, fx: Double): GridDataset =
    windowRegrid(g, fy, fx, -1 to 2, bsplineKernel, normalize = false)

  /** Lanczos-3 kernel: sinc(d)*sinc(d/3) = 3*sin(pi*d)*sin(pi*d/3)/(pi*d)^2
    * for |d| < 3 (rasterio/GDAL `lanczos`; the reference's test loops
    * over every `rasterio.enums.Resampling` method —
    * testing/test_3_era5_manipulations.py:83-99, dispatch
    * core_functions.py:292-299). Written exactly like this in the
    * DuckDB oracle so both engines evaluate the same expression tree.
    */
  private def lanczosKernel(d: org.apache.spark.sql.Column) = {
    val pi = lit(math.Pi)
    when(abs(d) < 1e-12, lit(1.0))
      .when(abs(d) < 3.0,
        lit(3.0) * sin(pi * d) * sin(pi * d / 3.0) / (pi * pi * d * d))
      .otherwise(lit(0.0))
  }

  /** Lanczos-3 regrid: 6x6 tap window per target cell, per-axis weight
    * normalization (GDAL normalizes the accumulated kernel weight; for a
    * separable kernel the 2D sum factors into the per-axis sums).
    */
  def lanczos(g: GridDataset, fy: Double, fx: Double): GridDataset =
    windowRegrid(g, fy, fx, -2 to 3, lanczosKernel, normalize = true)

  /** A separable window kernel's taps: for each target cell, the source
    * cells at `offsets` from floor(g) along each axis, weighted by the
    * kernel of the unclamped tap distance (each axis divided by its
    * weight sum when `normalize`). The kernel is evaluated once per axis
    * offset and the tap indices once per axis, in projections over the
    * local target relation that fold into its rows, so the explode
    * only pairs up columns and its generated code is small and the same
    * for every request.
    */
  private def windowRegrid(g: GridDataset, fy: Double, fx: Double, offsets: Range,
      kernel: Column => Column, normalize: Boolean): GridDataset = {
    val (xa, ya) = axes(g)
    val (m, xt, yt) = mapping(g.df.sparkSession, xa, ya, fx, fy)
    val (fracX, fracY) = (col("gx") - floor(col("gx")), col("gy") - floor(col("gy")))
    val withK = m.select(Seq(col("x2"), col("y2"), col("gx"), col("gy")) ++
      offsets.flatMap(k => Seq(kernel(fracX - k).as(s"wx_$k"), kernel(fracY - k).as(s"wy_$k"))): _*)
    def axisW(a: String, k: Int) =
      if (normalize) col(s"w${a}_$k") / offsets.map(j => col(s"w${a}_$j")).reduce(_ + _)
      else col(s"w${a}_$k")
    val perAxis = withK.select(Seq(col("x2"), col("y2")) ++ offsets.flatMap(k => Seq(
      clampIdx((floor(col("gy")) + k).cast(LongType), ya.n).as(s"jy_$k"),
      clampIdx((floor(col("gx")) + k).cast(LongType), xa.n).as(s"jx_$k"),
      axisW("x", k).as(s"nx_$k"), axisW("y", k).as(s"ny_$k"))): _*)
    val tapStructs = for (ky <- offsets; kx <- offsets) yield
      struct(col(s"jy_$ky").as("jy"), col(s"jx_$kx").as("jx"),
        (col(s"nx_$kx") * col(s"ny_$ky")).as("w"))
    val taps = perAxis.select(col("x2"), col("y2"),
        explode(array(tapStructs: _*)).as("c"))
      .select(col("x2"), col("y2"), col("c.jy").as("jy"),
        col("c.jx").as("jx"), col("c.w").as("w"))
      .filter(col("w") =!= 0.0)
      // clamped taps can coincide at edges: merge duplicate (cell, tap)
      .groupBy("y2", "x2", "jy", "jx").agg(sum("w").as("w"))
    tapRegrid(g, xa, ya, xt, yt, taps)
  }

  /** The interpolating regrids' join-aggregate: each target cell
    * (y2, x2) is the weighted sum of its source taps (jy, jx, w).
    *
    * The tap relation is metadata-sized and broadcasts. These regrids
    * upsample, so the indexed source crop is the smallest relation in
    * the plan (the target grid has fy·fx times its rows, the taps 4, 16
    * or 36 times the target's): it is the one relation exchanged, hash
    * partitioned on the time column. That partitioning already
    * satisfies the (time, y2, x2) aggregate, so the join and both halves
    * of the aggregate run after the one exchange and no partial
    * aggregate is shuffled again. Each task holds whole timesteps — the
    * unit the reference chunks by — and a request runs at most
    * min(timesteps, shuffle partitions) tasks after the exchange.
    *
    * The exchanged crop is a [[org.apache.spark.sql.graft.SharedPlan]]:
    * planned here, with no job run, and read as the same shuffle by
    * every later action, so the second sink of a request skips the scan
    * and exchange stage. It declares the exchange's hash partitioning,
    * so the join and aggregate above plan exactly as before. It carries
    * only what the join and aggregate read (time, tap indices,
    * variables), and the join's not-null test on the tap indices runs
    * inside it, below the exchange. Filters and column pruning written
    * after the regrid stay above the cut; a point table's station filter
    * still folds into the tap relation.
    *
    * The output is remembered (weakly, by identity) with a way to plan
    * the same regrid keyed by a time bucket instead: [[byBucket]].
    */
  private def tapRegrid(g: GridDataset, xa: AxisSpec, ya: AxisSpec, xt: AxisSpec,
                        yt: AxisSpec, taps: DataFrame): GridDataset = {
    val t = col(g.meta.timeDim)
    val aggs = g.variables.map(v => sum(col(v) * col("w")).as(v))
    val indexed = withIndexes(g, xa, ya)
      .select((Seq(t, col("jy"), col("jx")) ++ g.variables.map(col)): _*)
      .filter(col("jy").isNotNull && col("jx").isNotNull)
    // the crop exchange is keyed by the first key, the aggregate by the
    // keys and the target cell
    def regrid(crop: DataFrame, keys: Column*): DataFrame =
      SharedPlan(crop.repartition(keys.head))
        .join(broadcast(taps), Seq("jy", "jx"))
        .groupBy(keys ++ Seq(col("y2"), col("x2")): _*)
        .agg(aggs.head, aggs.tail: _*)
        .withColumnsRenamed(Map("y2" -> g.meta.yDim, "x2" -> g.meta.xDim))
    val out = regrid(indexed, t)
    bucketed.put(out, freq =>
      regrid(indexed.withColumn(Bucket, window(t, freq).getField("start")), col(Bucket), t))
    g.copy(df = out, meta = g.meta.copy(xAxis = Some(xt), yAxis = Some(yt)))
  }

  /** The time-bucket column of a regrid planned by [[byBucket]]. */
  private[operators] val Bucket = "_bucket"

  /** Each live interpolating-regrid output, by identity, with the plan of
    * the same regrid keyed by a downsample frequency's bucket.
    */
  private val bucketed = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, String => DataFrame]())

  /** When `df` is exactly the output of an interpolating regrid, and not
    * persisted, the same regrid with a [[Bucket]] column
    * `window(time, freq).start`, computed on the crop and keying its
    * shared exchange instead of time. The regrid aggregate groups by
    * (bucket, time, y2, x2) and a downsample by (bucket, y, x); the one
    * hash partitioning on the bucket satisfies both, and any aggregate
    * keyed by the bucket above them, so the downsample plans no exchange
    * of its own. `window` drops null times, here below the regrid,
    * where a downsample over the regrid would drop their cells. A
    * persisted output (its cached rows are cheaper than a new crop
    * exchange) or anything derived from it (a new DataFrame) is None.
    */
  private[operators] def byBucket(df: DataFrame, freq: String): Option[DataFrame] =
    Option(bucketed.get(df)).filter(_ => df.storageLevel == StorageLevel.NONE).map(_(freq))

  /** Map a coordinate column onto the downsample target-cell index:
    * floor((coord - west_edge) / target_step), edge-clamped. The GDAL
    * block membership rule — a source pixel belongs to the target pixel
    * its center falls in.
    */
  private def blockIdx(coord: org.apache.spark.sql.Column, src: AxisSpec,
                       tgt: AxisSpec) = {
    val west = src.origin - src.step / 2.0
    clampIdx(floor((coord - lit(west)) / lit(tgt.step)).cast(LongType), tgt.n)
  }

  /** Aggregating downsample — the reduction half of the
    * `rasterio.enums.Resampling` family (average, sum, min, max, rms,
    * med, q1, q3; reference dispatch core_functions.py:292-299). Each
    * target cell reduces the source cells whose centers fall inside it.
    *
    * No join: the target index is closed-form from the source coordinate,
    * so the plan is one partial-aggregated shuffle keyed by output cell —
    * the minimum possible data movement at 100 TB.
    */
  def blockAgg(g: GridDataset, fy: Double, fx: Double,
               methods: Seq[String]): GridDataset = {
    val (xa, ya) = axes(g)
    val xt = targetAxis(xa, fx); val yt = targetAxis(ya, fy)
    val vars = g.variables
    def aggFor(m: String, v: String) = (m match {
      case "average" => avg(col(v))
      case "sum"     => sum(col(v))
      case "min"     => min(col(v))
      case "max"     => max(col(v))
      // values are k/2^10 with k < 2^17: v*v and its sums stay exact in
      // IEEE754, and sqrt is correctly rounded — exact across engines
      case "rms"     => sqrt(avg(col(v) * col(v)))
      case "med"     => expr(s"percentile($v, 0.5)")
      case "q1"      => expr(s"percentile($v, 0.25)")
      case "q3"      => expr(s"percentile($v, 0.75)")
      case m         => throw new IllegalArgumentException(s"unknown block agg: $m")
    }).as(s"${m}_$v")
    val aggs = for (v <- vars; m <- methods) yield aggFor(m, v)
    val out = g.df
      .withColumn("jx2", blockIdx(g.x, xa, xt))
      .withColumn("jy2", blockIdx(g.y, ya, yt))
      .groupBy(col(g.meta.timeDim),
        (lit(yt.origin) + col("jy2") * lit(yt.step)).as(g.meta.yDim),
        (lit(xt.origin) + col("jx2") * lit(xt.step)).as(g.meta.xDim))
      .agg(aggs.head, aggs.tail: _*)
    g.copy(df = out, meta = g.meta.copy(xAxis = Some(xt), yAxis = Some(yt)))
  }

  /** Mode downsample (rasterio `mode`): most frequent value per target
    * block, ties broken deterministically by the smallest value (GDAL
    * leaves tie order unspecified; a documented total order makes the
    * operator reproducible and oracle-able). Two shuffles, both keyed by
    * output cell (+ value), both partial-aggregated.
    */
  def blockMode(g: GridDataset, fy: Double, fx: Double): GridDataset = {
    val (xa, ya) = axes(g)
    val xt = targetAxis(xa, fx); val yt = targetAxis(ya, fy)
    val vars = g.variables
    require(vars.size == 1, "blockMode reduces one variable at a time")
    val v = vars.head
    val counted = g.df
      .withColumn("jx2", blockIdx(g.x, xa, xt))
      .withColumn("jy2", blockIdx(g.y, ya, yt))
      .groupBy(col(g.meta.timeDim).as("t2"), col("jy2"), col("jx2"), col(v))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("t2", "jy2", "jx2")
      .orderBy(col("cnt").desc, col(v).asc)
    val out = counted
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("t2").as(g.meta.timeDim),
        (lit(yt.origin) + col("jy2") * lit(yt.step)).as(g.meta.yDim),
        (lit(xt.origin) + col("jx2") * lit(xt.step)).as(g.meta.xDim),
        col(v))
    g.copy(df = out, meta = g.meta.copy(xAxis = Some(xt), yAxis = Some(yt)))
  }

  /** Gaussian-weighted downsample (rasterio `gauss`): block membership as
    * in blockAgg, weights exp(-(dx^2+dy^2)/(2*sigma^2)) by the distance
    * (in source-pixel units) from the source center to the target center,
    * normalized per target cell; sigma = ratio/2 per axis. Still joinless:
    * weight is closed-form per source row, one shuffle keyed by output cell.
    */
  def blockGauss(g: GridDataset, fy: Double, fx: Double): GridDataset = {
    val (xa, ya) = axes(g)
    val xt = targetAxis(xa, fx); val yt = targetAxis(ya, fy)
    val vars = g.variables
    val sx2 = { val s = (1.0 / fx) / 2.0; 2.0 * s * s }
    val sy2 = { val s = (1.0 / fy) / 2.0; 2.0 * s * s }
    val base = g.df
      .withColumn("jx2", blockIdx(g.x, xa, xt))
      .withColumn("jy2", blockIdx(g.y, ya, yt))
      // distances in source-pixel units between source and target centers
      .withColumn("dx", (g.x - (lit(xt.origin) + col("jx2") * lit(xt.step))) / lit(xa.step))
      .withColumn("dy", (g.y - (lit(yt.origin) + col("jy2") * lit(yt.step))) / lit(ya.step))
      .withColumn("w", exp(-(col("dx") * col("dx") / lit(sx2) +
                             col("dy") * col("dy") / lit(sy2))))
    val aggs = vars.map(v => (sum(col(v) * col("w")) / sum(col("w"))).as(v))
    val out = base
      .groupBy(col(g.meta.timeDim),
        (lit(yt.origin) + col("jy2") * lit(yt.step)).as(g.meta.yDim),
        (lit(xt.origin) + col("jx2") * lit(xt.step)).as(g.meta.xDim))
      .agg(aggs.head, aggs.tail: _*)
    g.copy(df = out, meta = g.meta.copy(xAxis = Some(xt), yAxis = Some(yt)))
  }

  private def axes(g: GridDataset): (AxisSpec, AxisSpec) = (
    g.meta.xAxis.getOrElse(throw new IllegalArgumentException(
      "spatial resample needs xAxis metadata")),
    g.meta.yAxis.getOrElse(throw new IllegalArgumentException(
      "spatial resample needs yAxis metadata")))

  /** Integer axis-index columns jy/jx, ALWAYS recomputed from the
    * current axis metadata (closed form from the uniform axis —
    * constant-folded arithmetic, no extra scan). Pre-existing jx/jy are
    * dropped first: after Crop.bbox rebases the axis origin, indices a
    * source (e.g. SyntheticGrid) attached against the global axis are
    * stale, and trusting them shifts every joined value.
    */
  private[operators] def withIndexes(g: GridDataset, xa: AxisSpec, ya: AxisSpec): DataFrame =
    g.df.drop("jx", "jy").withColumns(Map(
      "jx" -> floor((g.x - lit(xa.origin)) / lit(xa.step) + 0.5).cast(LongType),
      "jy" -> floor((g.y - lit(ya.origin)) / lit(ya.step) + 0.5).cast(LongType)))

  /** Latitude-weighted spatial mean per timestep — the xarray
    * `ds.weighted(np.cos(np.deg2rad(ds.lat))).mean(("y","x"))` surface:
    * on a regular lat/lon grid, cell area shrinks with cos(lat), so an
    * unweighted spatial mean over-counts high latitudes (the classic
    * climate-statistics bug). One map-side-combinable aggregation per
    * timestep; the weight is a per-row column expression, never a
    * separate relation.
    */
  def weightedSpatialMean(g: GridDataset): DataFrame = {
    val w = cos(radians(g.y))
    val aggs = g.variables.flatMap { v =>
      Seq(round(sum(col(v) * w) / sum(w), 6).as(s"wmean_$v"),
          round(avg(col(v)), 6).as(s"mean_$v"))
    }
    g.df.groupBy(g.time.as(g.meta.timeDim)).agg(aggs.head, aggs.tail: _*)
  }

  /** Spatial gradient per timestep — the spatial analog of xarray
    * `ds.differentiate("x")` / `("y")`: central differences at
    * interior cells, one-sided at the grid edges, in value-units per
    * coordinate-unit (degrees here, matching the time derivative's
    * value-per-second convention), plus the gradient magnitude
    * `sqrt(ddx² + ddy²)` (one correctly-rounded IEEE sqrt —
    * deterministic). Two windows — x-ordered within (time, y) and
    * y-ordered within (time, x) — the same two partitionings as
    * [[focalMean]]; no join.
    */
  def spatialGradient(g: GridDataset, variable: String): DataFrame = {
    val wx = Window.partitionBy(g.time, g.y).orderBy(g.x)
    val wy = Window.partitionBy(g.time, g.x).orderBy(g.y)
    def deriv(v: Column, c: Column, w: org.apache.spark.sql.expressions.WindowSpec) = {
      val (vp, vn) = (lag(v, 1).over(w), lead(v, 1).over(w))
      val (cp, cn) = (lag(c, 1).over(w), lead(c, 1).over(w))
      when(cp.isNull && cn.isNull, lit(null))
        .when(cp.isNull, (vn - v) / (cn - c))
        .when(cn.isNull, (v - vp) / (c - cp))
        .otherwise((vn - vp) / (cn - cp))
    }
    g.df.select(g.time.as(g.meta.timeDim), g.y.as(g.meta.yDim),
        g.x.as(g.meta.xDim),
        deriv(col(variable), g.x, wx).as("ddx"),
        deriv(col(variable), g.y, wy).as("ddy"))
      .withColumn("grad_mag",
        sqrt(col("ddx") * col("ddx") + col("ddy") * col("ddy")))
  }

  /** Focal (neighborhood) mean per timestep — raster "focal statistics"
    * / the 2-D centered rolling mean (xarray
    * `ds.rolling(y=2r+1, x=2r+1, center=True, min_periods=1).mean()`):
    * each cell becomes the mean of the values in the (2r+1)^2 box
    * around it, edge boxes shrinking to the cells that exist.
    *
    * Computed SEPARABLY: the box SUM is a sum over x-neighbors of sums
    * over y-neighbors (and likewise the box COUNT), so two 1-D RANGE
    * windows replace the O(r^2) neighbor self-join — per-row cost O(1)
    * via sliding frames, two cell-key shuffles total, no join anywhere.
    * Tracking sum and count separately (not mean-of-means) keeps edge
    * boxes exact. Frames never cross the (time, row)-partition, so at
    * scale each executor slides over its own rows.
    */
  def focalMean(g: GridDataset, radius: Int): GridDataset = {
    require(radius >= 1, s"focal radius must be >= 1, got $radius")
    val (xa, ya) = axes(g)
    val d0 = withIndexes(g, xa, ya)
    val wx = Window.partitionBy(g.time, col("jy")).orderBy(col("jx"))
      .rangeBetween(-radius, radius)
    val pass1 = g.variables.foldLeft(d0) { (d, v) =>
      d.withColumn(s"_sx_$v", sum(col(v)).over(wx))
        .withColumn(s"_cx_$v", count(col(v)).over(wx))
    }
    val wy = Window.partitionBy(g.time, col("jx")).orderBy(col("jy"))
      .rangeBetween(-radius, radius)
    val out = g.variables.foldLeft(pass1) { (d, v) =>
      d.withColumn(v,
        sum(col(s"_sx_$v")).over(wy) / sum(col(s"_cx_$v")).over(wy))
    }
    g.copy(df = out.select(
      (Seq(g.meta.timeDim, g.meta.yDim, g.meta.xDim) ++ g.variables)
        .map(col): _*))
  }
}
