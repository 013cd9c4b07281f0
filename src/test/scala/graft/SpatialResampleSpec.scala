package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.{AxisSpec, GridDataset, GridMeta}
import graft.operators.{SpatialResample, TemporalResample}
import graft.sources.SyntheticGrid

class SpatialResampleSpec extends SparkSpec {

  private def grid = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))

  test("factor 2 regrid: 19x7 -> 38x14 output shape (X1, reference test)") {
    val r = SpatialResample.nearest(grid, fy = 2.0, fx = 2.0)
    assert(r.meta.xAxis.get.n == 38 && r.meta.yAxis.get.n == 14)
    assert(r.df.select("x").distinct().count() == 38)
    assert(r.df.select("y").distinct().count() == 14)
    assert(r.df.count() == 73L * 38 * 14)
  }

  test("asymmetric factors (1, 3): 19x7 -> 57x7 (x-major factor)") {
    val r = SpatialResample.bilinear(grid, fy = 1.0, fx = 3.0)
    assert(r.meta.xAxis.get.n == 57 && r.meta.yAxis.get.n == 7)
    assert(r.df.count() == 73L * 57 * 7)
  }

  test("bilinear on a constant field stays constant; nearest preserves values") {
    val const = grid.copy(df = grid.df.withColumn("t2m", lit(5.0)))
    val b = SpatialResample.bilinear(const, 2.0, 2.0)
    val mm = b.df.agg(min("t2m"), max("t2m")).collect()(0)
    assert(mm.getDouble(0) == 5.0 && mm.getDouble(1) == 5.0)
    val n = SpatialResample.nearest(grid, 2.0, 2.0)
    // every nearest-resampled value exists in the source value set
    val src = grid.df.select("t2m").distinct()
    assert(n.df.select("t2m").distinct().except(src).count() == 0)
  }

  test("cubic (Keys) regrid: constant stays constant, linear ramp exact in interior") {
    val const = grid.copy(df = grid.df.withColumn("t2m", lit(5.0)))
    val c = SpatialResample.cubic(const, 2.0, 2.0)
    val mm = c.df.agg(min("t2m"), max("t2m")).collect()(0)
    assert(math.abs(mm.getDouble(0) - 5.0) < 1e-9 && math.abs(mm.getDouble(1) - 5.0) < 1e-9)
    assert(c.df.count() == 73L * 38 * 14)
    val lin = grid.copy(df = grid.df.withColumn("t2m", col("x")))
    val b = SpatialResample.cubic(lin, 1.0, 2.0)
    val bad = b.df.filter(
      col("x") > -83.0 && col("x") < -79.5 && // >= 2 cells from the edges
      abs(col("t2m") - col("x")) > lit(1e-9)).count()
    assert(bad == 0)
  }

  test("crop-then-resample ignores stale global jx/jy carried by the source") {
    // SyntheticGrid.grid keeps global jx/jy; Crop.bbox rebases the axis
    // origin, so those indices are stale relative to the cropped axes.
    // withIndexes must recompute, giving the same answer as a grid that
    // never carried index columns.
    import graft.model.BBox
    val box = BBox(west = -82.5, east = -80.5, south = 41.75, north = 42.75)
    val cropped = operators.Crop.bbox(SyntheticGrid.grid(spark), box)
    val stale = cropped.copy(df = cropped.df.select("time", "y", "x", "jy", "jx", "t2m"))
    val clean = cropped.copy(df = cropped.df.select("time", "y", "x", "t2m"))
    val a = SpatialResample.nearest(stale, 2.0, 2.0).df.select("time", "y", "x", "t2m")
    val b = SpatialResample.nearest(clean, 2.0, 2.0).df.select("time", "y", "x", "t2m")
    assert(b.count() == 73L * 18 * 10)
    assert(a.count() == b.count())
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("cubic_spline (B3) regrid: partition of unity preserves constants; smooths") {
    val const = grid.copy(df = grid.df.withColumn("t2m", lit(2.25)))
    val c = SpatialResample.cubicSpline(const, 2.0, 2.0)
    val mm = c.df.agg(min("t2m"), max("t2m")).collect()(0)
    assert(math.abs(mm.getDouble(0) - 2.25) < 1e-9 && math.abs(mm.getDouble(1) - 2.25) < 1e-9)
    assert(c.df.count() == 73L * 38 * 14)
    // B3 weights are nonnegative -> output bounded by the source range
    // (unlike Keys cubic, which can overshoot)
    val src = grid.df.agg(min("t2m"), max("t2m")).collect()(0)
    val out = SpatialResample.cubicSpline(grid, 2.0, 2.0).df
      .agg(min("t2m"), max("t2m")).collect()(0)
    assert(out.getDouble(0) >= src.getDouble(0) - 1e-9)
    assert(out.getDouble(1) <= src.getDouble(1) + 1e-9)
  }

  test("lanczos regrid: constant stays constant (normalized weights), shape law") {
    val const = grid.copy(df = grid.df.withColumn("t2m", lit(5.0)))
    val l = SpatialResample.lanczos(const, 2.0, 2.0)
    val mm = l.df.agg(min("t2m"), max("t2m")).collect()(0)
    assert(math.abs(mm.getDouble(0) - 5.0) < 1e-9 && math.abs(mm.getDouble(1) - 5.0) < 1e-9)
    assert(l.df.count() == 73L * 38 * 14)
    // normalized kernel with small negative lobes: output stays within a
    // loose envelope of the source range
    val src = grid.df.agg(min("t2m"), max("t2m")).collect()(0)
    val out = SpatialResample.lanczos(grid, 2.0, 2.0).df
      .agg(min("t2m"), max("t2m")).collect()(0)
    val range = src.getDouble(1) - src.getDouble(0)
    assert(out.getDouble(0) > src.getDouble(0) - 0.5 * range)
    assert(out.getDouble(1) < src.getDouble(1) + 0.5 * range)
  }

  test("block downsample: shape, conservation, and per-block reductions agree") {
    val r = SpatialResample.blockAgg(grid, 0.5, 0.5,
      Seq("average", "sum", "min", "max", "rms", "med", "q1", "q3"))
    assert(r.meta.xAxis.get.n == 9 && r.meta.yAxis.get.n == 3)
    assert(r.df.count() == 73L * 9 * 3)
    // sum is conservative: block sums add up to the global sum
    val blockTotal = r.df.agg(sum("sum_t2m")).collect()(0).getDouble(0)
    val srcTotal = grid.df.agg(sum("t2m")).collect()(0).getDouble(0)
    assert(math.abs(blockTotal - srcTotal) < 1e-6)
    // per-block invariants: min <= q1 <= med <= q3 <= max, min <= avg <= max
    val bad = r.df.filter(
      col("min_t2m") > col("q1_t2m") || col("q1_t2m") > col("med_t2m") ||
      col("med_t2m") > col("q3_t2m") || col("q3_t2m") > col("max_t2m") ||
      col("average_t2m") < col("min_t2m") || col("average_t2m") > col("max_t2m") ||
      col("rms_t2m") < col("average_t2m") - lit(1e-9)).count() // RMS >= mean for v >= 0
    assert(bad == 0)
  }

  test("block mode: constant field -> the constant; ties break to smallest value") {
    val const = grid.copy(df = grid.df.withColumn("t2m", lit(7.0)))
    val m = SpatialResample.blockMode(const, 0.5, 0.5)
    assert(m.df.filter(col("t2m") =!= 7.0).count() == 0)
    // all-distinct values in a block -> every count ties at 1 -> smallest wins
    val distinct = grid.copy(df = grid.df.withColumn("t2m", col("t2m")))
    val md = SpatialResample.blockMode(distinct, 0.5, 0.5).df
      .withColumnRenamed("t2m", "mode_t2m")
    val mn = SpatialResample.blockAgg(grid, 0.5, 0.5, Seq("min")).df
    val joined = md.join(mn, Seq("time", "y", "x"))
    // synthetic t2m values are effectively all-distinct per block
    assert(joined.filter(col("mode_t2m") =!= col("min_t2m")).count() == 0)
  }

  test("gaussian block downsample: constant stays constant, stays in block range") {
    val const = grid.copy(df = grid.df.withColumn("t2m", lit(3.5)))
    val gk = SpatialResample.blockGauss(const, 0.5, 0.5)
    val mm = gk.df.agg(min("t2m"), max("t2m")).collect()(0)
    assert(math.abs(mm.getDouble(0) - 3.5) < 1e-12 && math.abs(mm.getDouble(1) - 3.5) < 1e-12)
    // convex weights: result bounded by per-block min/max
    val gw = SpatialResample.blockGauss(grid, 0.5, 0.5).df
      .withColumnRenamed("t2m", "gauss_t2m")
    val mn = SpatialResample.blockAgg(grid, 0.5, 0.5, Seq("min", "max")).df
    val bad = gw.join(mn, Seq("time", "y", "x"))
      .filter(col("gauss_t2m") < col("min_t2m") - lit(1e-9) ||
              col("gauss_t2m") > col("max_t2m") + lit(1e-9)).count()
    assert(bad == 0)
  }

  test("block downsample is partition-invariant (same result after repartition)") {
    val a = SpatialResample.blockAgg(grid, 0.5, 0.5, Seq("average", "med")).df
    val shuffled = grid.copy(df = grid.df.repartition(13))
    val b = SpatialResample.blockAgg(shuffled, 0.5, 0.5, Seq("average", "med")).df
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("bilinear interpolates linearly between cell centers") {
    // linear-in-x field: t2m = x  ->  any bilinear resample must reproduce x
    val lin = grid.copy(df = grid.df.withColumn("t2m", col("x")))
    val b = SpatialResample.bilinear(lin, 1.0, 2.0)
    val bad = b.df.filter(
      // interior cells only (edge-clamped border replicates)
      col("x") > -83.5 && col("x") < -79.0 &&
      abs(col("t2m") - col("x")) > lit(1e-9)).count()
    assert(bad == 0)
  }

  test("shared crop: grid query rows are invariant under AQE and shuffle partitions") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.graft.{SharedPlan, StreamingIntrospect}
    val regrids = Seq("g10_spatial_bilinear_x2", "g21_spatial_cubic_x2",
      "g27_spatial_lanczos_x2", "g29_spatial_cubicspline_x2")
    val queries = regrids ++ Seq("g05_points_table", "g09_spatial_nearest_x2",
      "g15_gage_render", "g16_wes_render", "g22_flagship_pipeline")
    def sha(rows: Seq[String]) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.sorted.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    // per query: the hash of its rows, and the shared relations its
    // executed plan reads as (declared partitions, partitions of the RDD)
    def run(aqe: String, partitions: String): Map[String, (String, Seq[(Int, Int)])] = {
      val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      val saved = keys.map(spark.conf.getOption)
      keys.zip(Seq(aqe, partitions)).foreach { case (k, v) => spark.conf.set(k, v) }
      try (queries.map(q => q -> SparkEntry.queries(q)(spark, sf)) :+
          ("entry" -> SparkEntry.entry(spark))).map { case (q, df) =>
        val rows = df.collect().map(_.toString).toSeq
        val scans = StreamingIntrospect.allPlanTrees(df.queryExecution.executedPlan)
          .flatMap(_.collect { case s: RDDScanExec if SharedPlan.subPlan(s).isDefined =>
            (s.outputPartitioning.numPartitions, s.rdd.getNumPartitions) })
        q -> (sha(rows), scans)
      }.toMap
      finally keys.zip(saved).foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val runs = Seq(("false", "4"), ("true", "4"), ("false", "7")).map { case (aqe, n) =>
      (s"AQE $aqe, $n partitions", n.toInt, run(aqe, n))
    }
    val (_, _, base) = runs.head
    for ((conf, n, r) <- runs; q <- queries :+ "entry") {
      assert(r(q)._1 == base(q)._1, s"$q: rows differ under $conf")
      val scans = r(q)._2
      assert(scans.forall { case (declared, rdd) => declared == n && rdd == n },
        s"$q under $conf: shared scans $scans")
      assert(scans.size == (if (regrids.contains(q)) 1 else 0), s"$q under $conf: shared scans $scans")
    }
  }

  test("a downsample over an interpolating regrid keys the crop exchange by its bucket: same rows as the plain path") {
    // 5 x 4 cells, hourly from 1969-12-31 09:00 to 1970-01-02 00:00 UTC
    // (buckets before and across the epoch), values that are not dyadic,
    // and one row whose time is null
    val (nx, ny, hours) = (5, 4, 40)
    val cells = nx * ny
    val t0 = java.time.Instant.parse("1969-12-31T09:00:00Z").getEpochSecond
    val rows = spark.range(hours.toLong * cells).select(
      timestamp_seconds(lit(t0) + floor(col("id") / cells) * 3600L).as("time"),
      (lit(41.0) + floor(col("id") % cells / nx) * 0.25).as("y"),
      (lit(-83.0) + col("id") % nx * 0.25).as("x"),
      (lit(250.0) + sin(col("id") * 0.37) * 10.0).as("t2m"),
      cos(col("id") * 0.11).as("u100"))
    val nullTime = spark.range(1).select(lit(null).cast("timestamp").as("time"),
      lit(41.25).as("y"), lit(-82.75).as("x"), lit(1e6).as("t2m"), lit(-1e6).as("u100"))
    val g = GridDataset(rows.union(nullTime), GridMeta("epoch",
      xAxis = Some(AxisSpec(-83.0, 0.25, nx)), yAxis = Some(AxisSpec(41.0, 0.25, ny))))
    val regrids = Seq[(String, GridDataset => GridDataset)](
      "bilinear" -> (SpatialResample.bilinear(_, 2.0, 2.0)),
      "cubic" -> (SpatialResample.cubic(_, 2.0, 2.0)),
      "lanczos" -> (SpatialResample.lanczos(_, 2.0, 2.0)))
    val methods: Seq[(String, (GridDataset, String) => GridDataset)] =
      Seq("mean", "sum", "first", "last", "median").map(m =>
        m -> ((d: GridDataset, f: String) => TemporalResample.downsample(d, f, m))) :+
      ("rms UDAF" -> ((d: GridDataset, f: String) =>
        TemporalResample.downsampleCustom(d, f, c => graft.functions.Udafs.rms(c))))
    def rowsOf(df: DataFrame): Seq[Row] = df.orderBy("time", "y", "x").collect().toSeq
    // keys exactly; values up to the rounding of sums taken in another order
    def same(a: Row, b: Row): Boolean = (0 until 3).forall(i => a.get(i) == b.get(i)) &&
      (3 until a.length).forall { i =>
        val (u, v) = (a.getDouble(i), b.getDouble(i))
        math.abs(u - v) <= 1e-9 * math.max(1.0, math.abs(u))
      }
    for ((rn, regrid) <- regrids; freq <- Seq("6 hours", "90 minutes", "1 day")) {
      val fine = regrid(g)
      def run(want: Seq[String]): Seq[Seq[Row]] = methods.map { case (m, down) =>
        val df = down(fine, freq).df
        assert(shuffleExchanges(df) == want, s"$rn, $freq, $m: ${shuffleExchanges(df)}")
        rowsOf(df)
      }
      val fused = run(Seq("bucket"))
      // a persisted regrid output keeps the two-exchange plan: the
      // downsample's exchange over the cached time-keyed crop exchange
      // (cached as planned with AQE off, so the walk sees its exchanges)
      withoutAqe(fine.df.persist())
      val plain = try run(Seq("hash", "time")) finally fine.df.unpersist(blocking = true)
      for (((m, _), (f, p)) <- methods.zip(fused.zip(plain))) {
        assert(f.nonEmpty && f.forall(!_.isNullAt(0)), s"$rn, $freq, $m")
        assert(f.length == p.length && f.zip(p).forall { case (a, b) => same(a, b) },
          s"$rn, $freq, $m: fused ${f.take(3)} ..., plain ${p.take(3)} ...")
      }
    }
    // a regrid output derived further keeps the two-exchange plan too
    val fine = SpatialResample.bilinear(g, 2.0, 2.0)
    for (derived <- Seq(fine.whereMask(col("t2m") > 250.0),
                        fine.copy(df = fine.df.filter(col("u100") > 0.0)),
                        fine.copy(df = fine.df.select("time", "y", "x", "t2m"))))
      assert(shuffleExchanges(TemporalResample.downsample(derived, "6 hours", "mean").df) ==
        Seq("hash", "time"))
  }
}
