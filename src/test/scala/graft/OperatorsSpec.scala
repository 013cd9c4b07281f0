package graft

import org.apache.spark.sql.functions._

import graft.model.BBox
import graft.operators._
import graft.sources.SyntheticGrid

class OperatorsSpec extends SparkSpec {

  private def grid = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))

  test("AQE splits a skewed sort-merge join at runtime (skew=true), results intact") {
    // the engine-native complement to SaltedJoin (q23): with realistic
    // thresholds AQE detects the oversized partition AFTER the shuffle
    // materializes and splits it — no manual salting, same results.
    // Thresholds are shrunk so a test-sized skew crosses them.
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      val left = spark.range(0, 40000)
        .select(when($"id" < 36000, 0L).otherwise($"id").as("k"), $"id".as("v"))
      val right = spark.range(0, 64).select($"id".as("k"), ($"id" * 2).as("w"))
      val j = left.join(right, "k")
      assert(j.collect().length == 36000) // key 0 alone carries the join
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew split in final plan:\n${plan.take(3000)}")
    } finally saved.foreach { case (k, vOpt) =>
      vOpt match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  test("longestPrefixMatch: longest wins, unmatched drop, label collapse, broadcast plan") {
    import spark.implicits._
    def ip(a: Int, b: Int, c: Int, d: Int): Long =
      (a.toLong << 24) | (b.toLong << 16) | (c.toLong << 8) | d.toLong
    val dims = Seq(
      (ip(10, 0, 0, 0), 8, "ten8"),
      (ip(10, 1, 0, 0), 16, "ten-one16"),
      (ip(10, 1, 2, 0), 24, "ten-one-two24"),
      (ip(10, 1, 2, 99), 24, "zz-dup24"), // same /24 network -> min label wins
      (ip(192, 168, 0, 0), 16, "private16")
    ).toDF("prefix_ip", "prefix_len", "label")
    val facts = Seq(
      (1L, ip(10, 1, 2, 3)),     // /8, /16, /24 all match -> 24
      (2L, ip(10, 1, 9, 9)),     // /8, /16 -> 16
      (3L, ip(10, 9, 9, 9)),     // /8 only
      (4L, ip(192, 168, 55, 1)), // /16 only
      (5L, ip(8, 8, 8, 8))       // no match -> dropped
    ).toDF("doc_id", "ip")
    val out = PrefixJoin.longestPrefixMatch(facts, "doc_id", "ip", dims)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, 24L, "ten-one-two24"),
      (2L, 16L, "ten-one16"),
      (3L, 8L, "ten8"),
      (4L, 16L, "private16")))
    // the fact side must never shuffle: dims broadcast per length,
    // no sort-merge join anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"))
  }

  test("snapped bbox crop can retain cells outside the raw bbox (P2)") {
    // raw east edge -80.2 snaps OUT to -80.25... and -80.2's nearest line
    // is -80.25 (inside); west -82.9 snaps to -83.0 which is OUTSIDE the
    // raw box — the reference's nearest-index semantics.
    val c = Crop.bbox(grid, BBox(-82.9, 41.6, -80.2, 42.4))
    val xs = c.df.select("x").distinct().collect().map(_.getDouble(0)).sorted
    assert(xs.head == -83.0 && xs.last == -80.25)
    assert(xs.length == 12)
    val ys = c.df.select("y").distinct().collect().map(_.getDouble(0)).sorted
    assert(ys.head == 41.5 && ys.last == 42.5)
  }

  test("crop and snap fall back to distinct-axis lookups without axis metadata") {
    val g = grid
    val noMeta = g.copy(meta = g.meta.copy(xAxis = None, yAxis = None))
    val b = BBox(-82.9, 41.6, -80.2, 42.4)
    // both axes' distinct values come back in ONE job; closed form runs none
    val (viaScan, scanJobs) = countingJobs(Crop.bbox(noMeta, b))
    val (viaAxis, axisJobs) = countingJobs(Crop.bbox(g, b))
    assert(scanJobs == 1 && axisJobs == 0, s"crop jobs: $scanJobs via scan, $axisJobs via axis")
    assert(viaScan.df.count() == viaAxis.df.count())
    assert(viaScan.df.except(viaAxis.df).count() == 0)
    // an exact-midpoint box: both edges tie, and ties take the smaller line
    val mid = Crop.bbox(noMeta, BBox(-83.375, 41.375, -79.125, 42.625))
    assert(mid.df.agg(min("x"), max("x"), min("y"), max("y")).head().toSeq ==
      Seq(-83.5, -79.25, 41.25, 42.5))
    val pts = Seq(
      ("p0", -82.98, 41.63),
      ("tie", -83.375, 41.375),   // exact midpoints -> lower lines
      ("tie_hi", -79.125, 42.625),
      ("same", -82.99, 41.66),    // shares p0's cell
      ("far", -200.0, 99.0))      // clamps to the axis ends
    val (snapped, snapJobs) = countingJobs(PointExtract.snapPoints(noMeta, pts))
    assert(snapJobs == 1, s"a point list snaps in one job, ran $snapJobs")
    assert(snapped == PointExtract.snapPoints(g, pts))
    assert(snapped == Seq(("p0", -83.0, 41.75), ("tie", -83.5, 41.25),
      ("tie_hi", -79.25, 42.5), ("same", -83.0, 41.75), ("far", -83.5, 42.75)))
  }

  test("time crop is inclusive on both ends: 73 hourly steps (P3)") {
    val c = Crop.time(grid, "2019-01-30 00:00:00", "2019-02-02 00:00:00")
    assert(c.df.select("time").distinct().count() == 73)
    // sub-range keeps both boundary steps
    val c2 = Crop.time(grid, "2019-01-30 12:00:00", "2019-01-31 06:00:00")
    assert(c2.df.select("time").distinct().count() == 19)
  }

  test("timezone subset converts bounds, not data (P4)") {
    import java.time.LocalDateTime
    // 2019-01-30 07:00 in UTC-5 == 12:00 UTC
    val c = Crop.timeByZone(grid,
      LocalDateTime.parse("2019-01-30T07:00:00"),
      LocalDateTime.parse("2019-01-30T09:00:00"), "America/New_York")
    val times = c.df.select("time").distinct().orderBy("time")
      .collect().map(_.getTimestamp(0).toString)
    assert(times.toSeq == Seq("2019-01-30 12:00:00.0", "2019-01-30 13:00:00.0", "2019-01-30 14:00:00.0"))
  }

  test("open-ended timezone subset matches the reference golden (64 steps)") {
    import java.time.LocalDateTime
    // reference test_3_era5_manipulations.py:60-71: end-only subset at
    // 2019-02-01T10:00 US/Eastern keeps 64 steps, last = 15:00 UTC
    val c = Crop.timeByZone(grid, None,
      Some(LocalDateTime.parse("2019-02-01T10:00:00")), "US/Eastern")
    val times = c.df.select("time").distinct()
    assert(times.count() == 64)
    val last = times.orderBy(col("time").desc).limit(1)
      .collect()(0).getTimestamp(0).toString
    assert(last == "2019-02-01 15:00:00.0")
    // no bounds at all -> identity
    assert(Crop.timeByZone(grid, None, None, "US/Eastern").df.count() ==
      grid.df.count())
  }

  test("upsample row-count law: hourly -> minutely is 4321 steps (A1)") {
    val one = grid.copy(df = grid.df.filter(col("x") === -83.5 && col("y") === 41.25))
    val up = TemporalResample.upsample(one, 60, "linear")
    assert(up.df.count() == 4321) // (73-1)*60 + 1, endpoint inclusive
  }

  test("downsample aggregates per cell and bucket (A1)") {
    val d = TemporalResample.downsample(grid, "1 day", "mean")
    // 73 hours span 4 calendar days -> 4 buckets x 7 x 19 cells
    assert(d.df.count() == 4L * 7 * 19)
    val s = TemporalResample.downsample(grid, "1 day", "sum")
    val total = s.df.agg(sum("t2m")).collect()(0).getDouble(0)
    val direct = grid.df.agg(sum("t2m")).collect()(0).getDouble(0)
    assert(math.abs(total - direct) < 1e-6)
  }

  test("ffill/bfill/linear interpolation fill semantics (W1-W3)") {
    import spark.implicits._
    val df = Seq(
      ("2020-01-01 00:00:00", 1.0, 1.0, Some(10.0)),
      ("2020-01-01 01:00:00", 1.0, 1.0, None),
      ("2020-01-01 02:00:00", 1.0, 1.0, None),
      ("2020-01-01 03:00:00", 1.0, 1.0, Some(40.0))
    ).toDF("ts", "y", "x", "v")
      .select(col("ts").cast("timestamp").as("time"), col("y"), col("x"), col("v"))
    val g = grid.copy(df = df)
    def vals(d: org.apache.spark.sql.DataFrame): Seq[Option[Double]] =
      d.orderBy("time").collect().map(r => Option(r.get(3)).map(_.asInstanceOf[Double])).toSeq
    assert(vals(TemporalResample.ffill(g).df) == Seq(Some(10.0), Some(10.0), Some(10.0), Some(40.0)))
    assert(vals(TemporalResample.bfill(g).df) == Seq(Some(10.0), Some(40.0), Some(40.0), Some(40.0)))
    assert(vals(TemporalResample.interpolate(g, "linear").df) == Seq(Some(10.0), Some(20.0), Some(30.0), Some(40.0)))
    assert(vals(TemporalResample.interpolate(g, "nearest").df) == Seq(Some(10.0), Some(10.0), Some(40.0), Some(40.0)))
    assert(vals(TemporalResample.interpolate(g, "zero").df) == Seq(Some(10.0), Some(10.0), Some(10.0), Some(40.0)))
  }

  test("downsample any/all follow nonzero truthiness") {
    import spark.implicits._
    val df = Seq(("2020-01-01 00:00:00", 1.0, 1.0, 0.0), ("2020-01-01 01:00:00", 1.0, 1.0, 2.0))
      .toDF("ts", "y", "x", "v")
      .select(col("ts").cast("timestamp").as("time"), col("y"), col("x"), col("v"))
    val g = grid.copy(df = df)
    val any = TemporalResample.downsample(g, "1 day", "any").df.collect()(0).getBoolean(3)
    val all = TemporalResample.downsample(g, "1 day", "all").df.collect()(0).getBoolean(3)
    assert(any && !all)
  }

  test("custom resample aggregation hook (A2/E1)") {
    val d = TemporalResample.downsampleCustom(grid, "1 day", c => max(c) - min(c))
    assert(d.df.count() == 4L * 7 * 19)
    assert(d.df.agg(min("t2m")).collect()(0).getDouble(0) >= 0.0)
  }

  test("points-to-table: 73 rows x 3 point columns (R1)") {
    val pts = Seq(("p0", -82.98, 41.63), ("p1", -79.43, 42.88), ("p2", -83.23, 41.85))
    val tbl = PointExtract.pointsToTable(grid, pts, "t2m")
    assert(tbl.columns.toSeq == Seq("time", "p0", "p1", "p2"))
    assert(tbl.count() == 73)
    // p0 column equals the snapped cell's series (x=-83.0, y=41.75)
    val expect = grid.df.filter(col("x") === -83.0 && col("y") === 41.75)
      .orderBy("time").select("t2m").collect().map(_.getDouble(0))
    val got = tbl.orderBy("time").select("p0").collect().map(_.getDouble(0))
    assert(got.toSeq == expect.toSeq)
    // no points, no table: rejected up front like bilinearPoints
    val e = intercept[IllegalArgumentException](PointExtract.pointsToTable(grid, Seq.empty, "t2m"))
    assert(e.getMessage.contains("need at least one point"))
  }

  test("two points snapping to the same cell each get a column") {
    val pts = Seq(("a", -83.49, 41.26), ("b", -83.51, 41.24))
    val tbl = PointExtract.pointsToTable(grid, pts, "t2m")
    assert(tbl.columns.toSeq == Seq("time", "a", "b"))
    val r = tbl.orderBy("time").limit(1).collect()(0)
    assert(r.getDouble(1) == r.getDouble(2))
  }

  test("variable merge aligns on coords with nulls outside overlap (J1)") {
    val g = SyntheticGrid.grid(spark)
    val a = Crop.bbox(g.selectVariables(Seq("t2m")), BBox(-83.5, 41.25, -82.0, 42.75))
    val b = Crop.bbox(g.selectVariables(Seq("u100")), BBox(-83.0, 41.25, -79.0, 42.75))
    val m = VariableMerge.merge(Seq(a, b)).df
    assert(m.filter(col("t2m").isNull && col("u100").isNull).count() == 0)
    assert(m.filter(col("t2m").isNotNull && col("u100").isNull).count() > 0)
    assert(m.filter(col("t2m").isNull && col("u100").isNotNull).count() > 0)
    // overlap region has both
    assert(m.filter(col("x") === -82.5 && col("t2m").isNotNull && col("u100").isNotNull).count() > 0)
  }

  test("concatTime unions disjoint chunks (U1)") {
    val g = grid
    val a = Crop.time(g, "2019-01-30 00:00:00", "2019-01-30 23:00:00")
    val b = Crop.time(g, "2019-01-31 00:00:00", "2019-02-02 00:00:00")
    assert(VariableMerge.concatTime(Seq(a, b)).df.count() == g.df.count())
  }

  test("skyline2d equals the brute-force dominance definition; ties survive") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // small value ranges force plenty of ties on BOTH dimensions
    val rows = (1 to 400).map(i => (i.toLong, rnd.nextInt(12) * 1.5, rnd.nextInt(10)))
    val df = rows.toDF("id", "price", "size")
    val got = graft.operators.Skyline.skyline2d(df, "price", "size")
      .select("id").as[Long].collect().toSet
    val want = rows.filter { case (_, p, s) =>
      !rows.exists { case (_, p2, s2) => p2 <= p && s2 >= s && (p2 < p || s2 > s) }
    }.map(_._1).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // exact duplicates of a frontier point are incomparable: all survive
    val (fp, fs) = rows.collectFirst { case (id, p, s) if want(id) => (p, s) }.get
    val dup = (rows :+ (9001L, fp, fs) :+ (9002L, fp, fs)).toDF("id", "price", "size")
    val got2 = graft.operators.Skyline.skyline2d(dup, "price", "size")
      .select("id").as[Long].collect().toSet
    assert(got2.contains(9001L) && got2.contains(9002L))
    // scale shape: level-reduction, never a quadratic nested-loop join
    val plan = graft.operators.Skyline.skyline2d(df, "price", "size")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("rollingTime: trailing mean matches manual fold; leading edge NULL; minPeriods") {
    val g = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))
    val rolled = TemporalResample.rollingTime(g, nSteps = 4, method = "mean")
    // one cell, manually folded
    val cell = g.df.filter(col("y") === 41.25 && col("x") === -83.5)
      .orderBy("time").select("t2m").collect().map(_.getDouble(0))
    val got = rolled.df.filter(col("y") === 41.25 && col("x") === -83.5)
      .orderBy("time").collect()
    assert(got.length == cell.length)
    for (i <- cell.indices) {
      if (i < 3) assert(got(i).isNullAt(3), s"row $i should be leading-edge NULL")
      else assert(got(i).getDouble(3) == cell.slice(i - 3, i + 1).sum / 4.0, s"row $i")
    }
    // minPeriods = 1: no NULLs, first row equals itself
    val loose = TemporalResample.rollingTime(g, 4, "mean", minPeriods = 1)
      .df.filter(col("y") === 41.25 && col("x") === -83.5).orderBy("time").collect()
    assert(!loose.exists(_.isNullAt(3)))
    assert(loose(0).getDouble(3) == cell(0))
    // sum/max/min methods agree with manual on a full window
    for ((m, f) <- Seq[(String, Seq[Double] => Double)](
        ("sum", _.sum), ("max", _.max), ("min", _.min))) {
      val r = TemporalResample.rollingTime(g, 4, m)
        .df.filter(col("y") === 41.25 && col("x") === -83.5).orderBy("time").collect()
      assert(r(5).getDouble(3) == f(cell.slice(2, 6).toSeq), m)
    }
  }

  test("weightedSpatialMean: cos-lat weighting, constant-field invariance") {
    val g = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))
    val out = SpatialResample.weightedSpatialMean(g).orderBy("time").collect()
    assert(out.length == g.df.select("time").distinct().count())
    // the weighted and unweighted means genuinely differ on this grid
    assert(out.exists(r => r.getDouble(1) != r.getDouble(2)))
    // constant field: weighting cannot move the mean
    val const = g.copy(df = g.df.withColumn("t2m", lit(7.5)))
    val c = SpatialResample.weightedSpatialMean(const).collect()
    assert(c.forall(r => r.getDouble(1) == 7.5 && r.getDouble(2) == 7.5))
    // hand check one timestep against an explicit fold
    val t0 = g.df.orderBy("time").select("time").limit(1).collect()(0).getTimestamp(0)
    val rows = g.df.filter(col("time") === t0)
      .select("y", "t2m").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val wm = rows.map { case (y, v) => v * math.cos(math.toRadians(y)) }.sum /
      rows.map { case (y, _) => math.cos(math.toRadians(y)) }.sum
    val got = out.find(_.getTimestamp(0) == t0).get.getDouble(1)
    assert(math.abs(got - wm) < 1e-6)
  }

  test("spatialGradient: linear field exact, constant zero, one-sided edges") {
    val g = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))
    // planted plane v = 3x - 2y: ddx = 3, ddy = -2 everywhere (central
    // AND one-sided differences are exact on a linear field)
    val plane = g.copy(df = g.df.withColumn("t2m",
      col("x") * 3.0 - col("y") * 2.0))
    val p = SpatialResample.spatialGradient(plane, "t2m").collect()
    assert(p.nonEmpty)
    for (r <- p) {
      assert(r.getDouble(3) == 3.0 && r.getDouble(4) == -2.0)
      assert(r.getDouble(5) == math.sqrt(3.0 * 3.0 + 2.0 * 2.0))
    }
    // constant field: zero gradient
    val const = g.copy(df = g.df.withColumn("t2m", lit(5.5)))
    assert(SpatialResample.spatialGradient(const, "t2m").collect()
      .forall(r => r.getDouble(3) == 0.0 && r.getDouble(4) == 0.0 &&
        r.getDouble(5) == 0.0))
    // hand-check a west-edge cell on the real field (one-sided in x)
    val t0 = g.df.orderBy("time").select("time").limit(1).collect()(0).getTimestamp(0)
    val row = g.df.filter(col("time") === t0)
      .select("y", "x", "t2m").collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), r.getDouble(2))).toMap
    val expectEdge = (row((41.25, -83.25)) - row((41.25, -83.5))) / 0.25
    val gotEdge = SpatialResample.spatialGradient(g, "t2m")
      .filter(col("time") === t0 && col("y") === 41.25 && col("x") === -83.5)
      .collect()(0).getDouble(3)
    assert(gotEdge == expectEdge)
  }

  test("bilinearPoints: on-grid identity, hand-computed stencil, convexity") {
    val g = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))
    val plan = PointExtract.bilinearPoints(g, Seq(
        ("on", -82.0, 42.0), ("off", -83.1234, 41.4567)), "t2m")
      .orderBy("time", "point_id")
    // ONE aggregate pass for all points: a per-point select union would
    // duplicate the scan+agg subtree per branch
    assert(!plan.queryExecution.optimizedPlan.toString.contains("Union"),
      "all points must read off a single aggregate, not a per-point union")
    val out = plan.collect()
    assert(out.length == 2 * SyntheticGrid.NT)
    // on-grid point: interpolation is the identity (fx = fy = 0)
    val cell = g.df.filter(col("x") === -82.0 && col("y") === 42.0)
      .orderBy("time").select("t2m").collect().map(_.getDouble(0))
    val onVals = out.filter(_.getString(1) == "on").map(_.getDouble(2))
    assert(onVals.toSeq == cell.toSeq)
    // hand-computed stencil at the first timestep for the off-grid point
    def t2m0(jy: Int, jx: Int): Double =
      ((0L * 7 + jy * 13 + jx * 29 + 1) * 2654435761L % 104729) / 1024.0
    val (fx, fy) = ((-83.1234 - -83.25) / 0.25, (41.4567 - 41.25) / 0.25)
    val expect = t2m0(0, 1) * ((1 - fx) * (1 - fy)) +
      t2m0(0, 2) * (fx * (1 - fy)) +
      t2m0(1, 1) * ((1 - fx) * fy) + t2m0(1, 2) * (fx * fy)
    val got = out.filter(_.getString(1) == "off").head.getDouble(2)
    assert(got == expect)
    // convexity: every interpolated value inside the corner hull
    val corners = Seq(t2m0(0, 1), t2m0(0, 2), t2m0(1, 1), t2m0(1, 2))
    assert(got >= corners.min && got <= corners.max)
    val noMeta = g.copy(meta = g.meta.copy(xAxis = None))
    intercept[IllegalArgumentException](
      PointExtract.bilinearPoints(noMeta, Seq(("p", -82.0, 42.0)), "t2m"))
    intercept[IllegalArgumentException](
      PointExtract.bilinearPoints(g, Seq.empty, "t2m"))
    // no silent extrapolation: out-of-domain points fail fast (the
    // index clamp alone would yield weights far outside [0,1])
    intercept[IllegalArgumentException](
      PointExtract.bilinearPoints(g, Seq(("p", -100.0, 42.0)), "t2m"))
    intercept[IllegalArgumentException](
      PointExtract.bilinearPoints(g, Seq(("p", -82.0, 49.0)), "t2m"))
  }

  test("seasonalMase: ramp and periodic laws; evaluation-window count") {
    val g = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))
    // linear ramp v = hour index: |seasonal err| = 24, |naive err| = 1
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("y"), col("x"))
    val ramp = g.copy(df = g.df.withColumn("t2m",
      (unix_timestamp(col("time")).cast("double") -
        min(unix_timestamp(col("time")).cast("double")).over(w)) / 3600.0))
    val r = TemporalResample.seasonalMase(ramp, season = 24).collect()
    assert(r.nonEmpty)
    val nEval = SyntheticGrid.NT - 24
    for (row <- r) {
      assert(row.getLong(5) == nEval.toLong)
      assert(row.getDouble(2) == 24.0 * nEval)   // sae
      assert(row.getDouble(3) == 1.0 * nEval)    // sne
      assert(row.getDouble(4) == 24.0)           // mase
    }
    // perfectly diurnal field: the seasonal forecast is exact, mase = 0
    val per = g.copy(df = g.df.withColumn("t2m",
      (hour(col("time")) % 24).cast("double")))
    val p = TemporalResample.seasonalMase(per, 24).collect()
    assert(p.forall(row => row.getDouble(2) == 0.0 && row.getDouble(4) == 0.0))
    intercept[IllegalArgumentException](TemporalResample.seasonalMase(g, 1))
  }

  test("focalMean: equals brute-force neighborhood mean; constant field; edges shrink") {
    val g = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))
    val out = SpatialResample.focalMean(g, radius = 1)
    // brute force over one timestep: mean of the <=9 neighbors that exist
    val t0 = g.df.orderBy("time").select("time").limit(1).collect()(0).getTimestamp(0)
    val cells = g.df.filter(col("time") === t0)
      .select("y", "x", "t2m").collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), r.getDouble(2))).toMap
    val got = out.df.filter(col("time") === t0)
      .select("y", "x", "t2m").collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), r.getDouble(2))).toMap
    assert(got.size == cells.size)
    for (((y, x), _) <- cells) {
      val nb = for {
        dy <- -1 to 1; dx <- -1 to 1
        v <- cells.get((y + dy * 0.25, x + dx * 0.25))
      } yield v
      assert(got((y, x)) == nb.sum / nb.size, s"cell ($y, $x)")
    }
    // corner cell averages exactly 4 values, interior exactly 9 — the
    // brute force above proves it; spot-assert the shrink is real
    val corner = (41.25, -83.5)
    val nbCorner = for {
      dy <- -1 to 1; dx <- -1 to 1
      v <- cells.get((corner._1 + dy * 0.25, corner._2 + dx * 0.25))
    } yield v
    assert(nbCorner.size == 4)
    // constant field: focal mean is the identity
    val const = g.copy(df = g.df.withColumn("t2m", lit(3.25)))
    assert(SpatialResample.focalMean(const, 1).df
      .select("t2m").collect().forall(_.getDouble(0) == 3.25))
    // no join in the plan: the separable form is window-only
    val plan = out.df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "separable focal mean must not join")
  }

  test("polyfitTrend: exact on a planted line; hand OLS check; intercept at cell origin") {
    val g = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))
    // planted exact line v = 2.5 + 0.125 * hours: slope/intercept recovered exactly
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("y"), col("x"))
    val lineDf = g.df.withColumn("t2m",
      lit(2.5) + (unix_timestamp(col("time")).cast("double") -
        min(unix_timestamp(col("time")).cast("double")).over(w)) / 3600.0 * 0.125)
    val line = TemporalResample.polyfitTrend(g.copy(df = lineDf)).collect()
    assert(line.nonEmpty)
    assert(line.forall(r => r.getDouble(2) == 0.125 && r.getDouble(3) == 2.5))
    // hand OLS on one real cell
    val vs = g.df.filter(col("y") === 41.25 && col("x") === -83.5)
      .orderBy("time").select("t2m").collect().map(_.getDouble(0))
    val xs = vs.indices.map(_.toDouble)
    val n = vs.length.toDouble
    val (sx, sy) = (xs.sum, vs.sum)
    val sxx = xs.map(v => v * v).sum
    val sxy = xs.zip(vs).map { case (a, b) => a * b }.sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val icept = (sy - slope * sx) / n
    val got = TemporalResample.polyfitTrend(g)
      .filter(col("y") === 41.25 && col("x") === -83.5).collect()(0)
    assert(got.getDouble(2) == slope && got.getDouble(3) == icept)
  }

  test("scd2 builds half-open version intervals; asOf resolves point-in-time") {
    import spark.implicits._
    val events = Seq(
      (1L, "2020-01-01 10:00:00", 1L, "A"),
      (1L, "2020-01-01 11:00:00", 2L, "A"),   // same value: same version
      (1L, "2020-01-01 12:00:00", 3L, "B"),   // change
      (1L, "2020-01-01 13:00:00", 4L, "A"),   // A again: NEW version (type 2)
      (2L, "2020-01-01 09:00:00", 5L, "C"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val dim = graft.operators.Scd.scd2(events, "user_id", "ts", "event_type", "event_id")
    val rows = dim.orderBy("user_id", "version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3).toString, Option(r.getTimestamp(4)).map(_.toString), r.getLong(5)))
    assert(rows.toSeq == Seq(
      (1L, 1L, "A", "2020-01-01 10:00:00.0", Some("2020-01-01 12:00:00.0"), 2L),
      (1L, 2L, "B", "2020-01-01 12:00:00.0", Some("2020-01-01 13:00:00.0"), 1L),
      (1L, 3L, "A", "2020-01-01 13:00:00.0", None, 1L),
      (2L, 1L, "C", "2020-01-01 09:00:00.0", None, 1L)))
    // asOf: half-open — at exactly 12:00 the NEW version holds
    val at = graft.operators.Scd.asOf(dim, "user_id",
        lit("2020-01-01 12:00:00").cast("timestamp"))
      .filter(col("user_id") === 1L).collect()
    assert(at.length == 1 && at(0).getString(2) == "B")
    // tie on ts: the tieBreaker pins which value wins the run order
    val tied = Seq(
      (3L, "2020-01-01 10:00:00", 10L, "X"),
      (3L, "2020-01-01 10:00:00", 11L, "Y"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val tdim = graft.operators.Scd.scd2(tied, "user_id", "ts", "event_type", "event_id")
      .orderBy("version").collect()
    assert(tdim.map(_.getString(2)).toSeq == Seq("X", "Y"))
  }

  test("timeIntegral and timeDerivative match hand folds; constant-field laws") {
    val g = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))
    // integral of a constant c over [t0, tN] is c * (tN - t0)
    val const = g.copy(df = g.df.withColumn("t2m", lit(2.5)))
    val span = g.df.agg((max(unix_timestamp(col("time"))) -
      min(unix_timestamp(col("time")))).cast("double")).collect()(0).getDouble(0)
    val ci = TemporalResample.timeIntegral(const).collect()
    assert(ci.forall(r => math.abs(r.getDouble(2) - 2.5 * span) < 1e-6))
    // derivative of a constant is 0 everywhere
    val cd = TemporalResample.timeDerivative(const).df.collect()
    assert(cd.forall(r => r.getDouble(3) == 0.0))
    // hand fold on one real cell
    val cell = g.df.filter(col("y") === 41.25 && col("x") === -83.5)
      .orderBy("time").select(unix_timestamp(col("time")).cast("double"), col("t2m"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val wantI = cell.sliding(2).map { case Array((t0, v0), (t1, v1)) =>
      (v0 + v1) / 2.0 * (t1 - t0) }.sum
    val gotI = TemporalResample.timeIntegral(g)
      .filter(col("y") === 41.25 && col("x") === -83.5).collect()(0).getDouble(2)
    assert(math.abs(gotI - wantI) < 1e-6)
    // central difference at an interior point
    val der = TemporalResample.timeDerivative(g).df
      .filter(col("y") === 41.25 && col("x") === -83.5)
      .orderBy("time").collect().map(_.getDouble(3))
    assert(der(1) == (cell(2)._2 - cell(0)._2) / (cell(2)._1 - cell(0)._1))
    assert(der(0) == (cell(1)._2 - cell(0)._2) / (cell(1)._1 - cell(0)._1)) // edge
  }

  test("diurnal climatology and anomaly: identity laws") {
    val g = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))
    // anomaly sums to ~0 within each (hour, cell) group by construction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(hour(col("time")), col("y"), col("x"))
    val anom = g.df.select(hour(col("time")).as("hr"), col("y"), col("x"),
      (col("t2m") - avg(col("t2m")).over(w)).as("a"))
    val sums = anom.groupBy("hr", "y", "x").agg(sum("a").as("s")).collect()
    assert(sums.forall(r => math.abs(r.getDouble(3)) < 1e-9))
    // climatology of a constant field is that constant
    val const = g.copy(df = g.df.withColumn("t2m", lit(3.25)))
    val clim = const.df.groupBy(hour(col("time")), col("y"), col("x"))
      .agg(avg("t2m").as("m")).collect()
    assert(clim.forall(_.getDouble(3) == 3.25))
  }
}
