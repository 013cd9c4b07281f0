package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.GridDataset

/** Temporal resampling (SURVEY.md §2.4 A1/A2, §2.5 W1-W3).
  *
  * Downsampling = time-bucket aggregation (`groupBy(window(time, freq))`):
  * map-side partial aggregation + one shuffle on (bucket, y, x) — the
  * shuffle key count equals the output size, so this scales linearly.
  * Directly over an interpolating regrid it needs no shuffle of its own:
  * the regrid's crop exchange is keyed by the bucket instead
  * ([[SpatialResample.byBucket]]), and that one hash partitioning serves
  * the regrid's aggregate and this one.
  * Upsampling = target-time-grid generation (`sequence` + `explode`) +
  * left join + gap fill via window functions.
  *
  * Reference semantics: `ds.resample(time=freq).<method>()` with methods
  * {all, any, ffill, first, bfill, last, max, mean, median, min, sum}
  * (reference: shared_types.py:31-43, dispatch core_functions.py:384-406)
  * and interpolation {linear, nearest, zero, slinear} (slinear == linear
  * on a 1-D axis, zero == forward-fill of the previous knot value;
  * reference: core_functions.py:381-402).
  */
object TemporalResample {

  /** Aggregation methods for downsampling. `first`/`last` are by event
    * time within the bucket (min_by/max_by — deterministic, unlike
    * Spark's order-sensitive first()/last() aggregates). `any`/`all`
    * follow xarray nonzero-truthiness over numeric data.
    */
  def aggFor(method: String, v: Column, t: Column): Column = method match {
    case "mean"   => avg(v)
    case "sum"    => sum(v)
    case "max"    => max(v)
    case "min"    => min(v)
    case "median" => median(v)
    case "count"  => count(v).cast("double")
    case "std"    => stddev(v)
    case "first"  => min_by(v, t)
    case "last"   => max_by(v, t)
    case "any"    => max((v =!= 0.0).cast("int")) === 1
    case "all"    => min((v =!= 0.0).cast("int")) === 1
    case other    => throw new IllegalArgumentException(s"unknown method: $other")
  }

  /** Downsample: one output row per (time bucket, y, x). `freq` is a
    * Spark window duration, e.g. "6 hours". Bucket label = window start
    * (pandas/xarray left-labeled resample default).
    */
  def downsample(g: GridDataset, freq: String, method: String): GridDataset =
    downsampleCustom(g, freq, v => aggFor(method, v, g.time))

  /** Downsample with a caller-supplied aggregation — the engine's
    * extension point mirroring `custom_resample_method` (reference:
    * core_functions.py:354,387,405-406). Pass any Column-level aggregate,
    * including a registered `Aggregator` UDAF.
    *
    * When `g.df` is exactly an interpolating regrid's output (not
    * persisted, not derived further), the buckets come from that regrid
    * re-planned with its crop exchange keyed by the bucket, so the
    * aggregate below runs in the exchange's partitions; rows and schema
    * are those of the plain path, up to the rounding of sums taken in
    * another order. Each task then holds whole buckets, so a request
    * runs at most min(buckets, shuffle partitions) tasks after the
    * exchange.
    */
  def downsampleCustom(g: GridDataset, freq: String, customAgg: Column => Column): GridDataset = {
    val aggs = g.variables.map(v => customAgg(col(v)).as(v))
    val (src, bucket) = SpatialResample.byBucket(g.df, freq)
      .fold((g.df, window(g.time, freq).getField("start")))(d => (d, col(SpatialResample.Bucket)))
    val out = src.groupBy(bucket.as(g.meta.timeDim), g.y, g.x).agg(aggs.head, aggs.tail: _*)
    g.copy(df = out)
  }

  /** Target time grid spanning [min(time), max(time)] at `stepSeconds`,
    * crossed with the distinct (y, x) cells, left-joined to the source —
    * rows absent from the source carry null variables for the fill stage.
    * The time axis is tiny (one `sequence` row exploded), so the cross
    * join broadcasts; the left join shuffles on (time, y, x) once.
    */
  def upsampleGrid(g: GridDataset, stepSeconds: Long): DataFrame = {
    val t = g.meta.timeDim
    val times = g.df
      .agg(min(g.time).as("lo"), max(g.time).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr(s"INTERVAL '$stepSeconds' SECOND"))).as(t))
    val cells = g.df.select(g.y, g.x).distinct()
    times.crossJoin(cells)
      .join(g.df, Seq(t, g.meta.yDim, g.meta.xDim), "left")
  }

  private def cellW(g: GridDataset) =
    Window.partitionBy(g.y, g.x).orderBy(g.time)

  /** Forward-fill nulls within each cell (W1). */
  def ffill(g: GridDataset): GridDataset = {
    val w = cellW(g).rowsBetween(Window.unboundedPreceding, 0)
    g.copy(df = g.variables.foldLeft(g.df) { (d, v) =>
      d.withColumn(v, last(col(v), ignoreNulls = true).over(w))
    })
  }

  /** Backward-fill nulls within each cell (W2). */
  def bfill(g: GridDataset): GridDataset = {
    val w = cellW(g).rowsBetween(0, Window.unboundedFollowing)
    g.copy(df = g.variables.foldLeft(g.df) { (d, v) =>
      d.withColumn(v, first(col(v), ignoreNulls = true).over(w))
    })
  }

  /** Gap interpolation over each cell's time series (W3).
    * `linear`: y = y0 + (y1-y0)*(t-t0)/(t1-t0) between bracketing knots;
    * `nearest`: closer knot, ties to the earlier one;
    * `zero` (and `slinear` alias of linear): previous knot value.
    * Edges (no bracket on one side) stay null, matching 1-D interpolation
    * that does not extrapolate.
    */
  def interpolate(g: GridDataset, method: String): GridDataset = {
    val wPrev = cellW(g).rowsBetween(Window.unboundedPreceding, 0)
    val wNext = cellW(g).rowsBetween(0, Window.unboundedFollowing)
    val t = g.time.cast("double")
    val out = g.variables.foldLeft(g.df) { (d, v) =>
      val vc = col(v)
      val knotT = when(vc.isNotNull, t)
      val pv = last(vc, ignoreNulls = true).over(wPrev)
      val pt = last(knotT, ignoreNulls = true).over(wPrev)
      val nv = first(vc, ignoreNulls = true).over(wNext)
      val nt = first(knotT, ignoreNulls = true).over(wNext)
      val filled = method match {
        case "linear" | "slinear" =>
          when(vc.isNotNull, vc).otherwise(
            pv + (nv - pv) * (t - pt) / (nt - pt))
        case "nearest" =>
          when(vc.isNotNull, vc).otherwise(
            when(pt.isNull, nv).when(nt.isNull, pv)
              .when(t - pt <= nt - t, pv).otherwise(nv))
        case "zero" =>
          when(vc.isNotNull, vc).otherwise(pv)
        case other => throw new IllegalArgumentException(s"unknown interp: $other")
      }
      // never extrapolate for linear/zero: require both brackets for linear
      val guarded = method match {
        case "linear" | "slinear" => when(pt.isNull || nt.isNull, when(vc.isNotNull, vc)).otherwise(filled)
        case "zero"               => when(vc.isNotNull, vc).otherwise(when(pt.isNotNull, filled))
        case _                    => filled
      }
      d.withColumn(v, guarded)
    }
    g.copy(df = out)
  }

  /** Full upsample pipeline: grid generation + fill.
    * method in {ffill, bfill, linear, slinear, nearest, zero, cubic}.
    */
  def upsample(g: GridDataset, stepSeconds: Long, method: String): GridDataset = {
    if (method == "cubic" || method == "quadratic")
      return upsampleSpline(g, stepSeconds, method)
    val gg = g.copy(df = upsampleGrid(g, stepSeconds))
    method match {
      case "ffill" => ffill(gg)
      case "bfill" => bfill(gg)
      case m       => interpolate(gg, m)
    }
  }

  /** Spline upsample (W3 `cubic` with not-a-knot boundaries, or
    * `quadratic` as a degree-2 B-spline collocation — both matching
    * scipy interp1d). A spline needs the whole per-cell series, so this
    * is the one genuinely per-partition-imperative operator: groupByKey
    * on the cell, run the banded solve (tridiagonal for cubic,
    * pentadiagonal collocation for quadratic) in-memory per cell
    * (series length = time axis, bounded), evaluate at the target grid.
    * Parallelism is across cells — the dimension that grows at 100 TB —
    * and the shuffle carries each cell's series once.
    */
  def upsampleSpline(g: GridDataset, stepSeconds: Long, method: String = "cubic"): GridDataset = {
    val solve: (Array[Double], Array[Double], Array[Double]) => Array[Double] =
      method match {
        case "cubic"     => graft.functions.Spline.cubic
        case "quadratic" => graft.functions.Spline.quadratic
        case m           => throw new IllegalArgumentException(s"unknown spline method: $m")
      }
    val vars = g.variables
    require(vars.nonEmpty, "spline upsample needs at least one variable")
    val spark = g.df.sparkSession
    import spark.implicits._
    val src = g.df.select(g.y.cast("double").as("y"), g.x.cast("double").as("x"),
        g.time.cast("double").as("t"),
        array(vars.map(v => col(v).cast("double")): _*).as("vs"))
      .as[(Double, Double, Double, Seq[Double])]
    val stepD = stepSeconds.toDouble
    val nVars = vars.size
    val out = src.groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Double, Double), it: Iterator[(Double, Double, Double, Seq[Double])]) =>
        val (y, x) = key
        val knots = it.map(r => (r._3, r._4)).toArray.sortBy(_._1)
        val ts = knots.map(_._1)
        val lo = ts.head; val hi = ts.last
        val nq = ((hi - lo) / stepD).toLong + 1
        val qs = Array.tabulate(nq.toInt)(i => lo + i * stepD)
        // one banded solve per variable over the shared time axis
        val res = Array.tabulate(nVars) { vi =>
          solve(ts, knots.map(_._2(vi)), qs)
        }
        qs.indices.iterator.map { qi =>
          (qs(qi), y, x, Seq.tabulate(nVars)(vi => res(vi)(qi)))
        }
      }
      .toDF("t", "y", "x", "vs")
      .select(Seq(timestamp_seconds(col("t")).as(g.meta.timeDim),
        col("y").as(g.meta.yDim), col("x").as(g.meta.xDim)) ++
        vars.zipWithIndex.map { case (v, i) => col("vs").getItem(i).as(v) }: _*)
    g.copy(df = out)
  }

  /** Rolling aggregation along the time axis per grid cell — the
    * `ds.rolling(time=n).<method>()` xarray surface. Trailing window of
    * `nSteps` observations (xarray's default alignment); values where
    * fewer than `minPeriods` observations fill the window are NULL
    * (xarray default: min_periods = window size → leading edge NULL).
    *
    * Scale shape: ONE window partitioned by (y, x) ordered by time —
    * a single hash shuffle on the cell key, per-cell sorted scans, no
    * global order. The frame is row-count-based, so the plan is a
    * WindowExec with a sliding frame, not a self-join.
    */
  def rollingTime(g: GridDataset, nSteps: Int, method: String,
      minPeriods: Int = -1): GridDataset = {
    require(nSteps >= 1, s"window must be >= 1 step, got $nSteps")
    val minP = if (minPeriods < 0) nSteps else minPeriods
    val w = Window.partitionBy(g.y, g.x).orderBy(g.time)
      .rowsBetween(-(nSteps - 1), 0)
    val rolled = g.variables.map { v =>
      val agg = method match {
        case "mean" => avg(col(v)).over(w)
        case "sum"  => sum(col(v)).over(w)
        case "max"  => max(col(v)).over(w)
        case "min"  => min(col(v)).over(w)
        case other  => throw new IllegalArgumentException(s"unknown method: $other")
      }
      when(count(col(v)).over(w) >= minP, agg).otherwise(lit(null)).as(v)
    }
    g.copy(df = g.df.select(
      Seq(g.time.as(g.meta.timeDim), g.y.as(g.meta.yDim), g.x.as(g.meta.xDim)) ++
        rolled: _*))
  }

  /** Trapezoidal time integral per grid cell — xarray's
    * `ds.integrate("time")`: sum of (v_i + v_{i+1})/2 * dt_i over
    * consecutive observations, in value-units x seconds. One
    * (y, x)-partitioned window (lead) feeding a map-side-combinable
    * sum — a single cell-key shuffle, like [[rollingTime]].
    */
  def timeIntegral(g: GridDataset): DataFrame = {
    val w = Window.partitionBy(g.y, g.x).orderBy(g.time)
    val dt = (lead(unix_timestamp(g.time), 1).over(w) -
      unix_timestamp(g.time)).cast("double")
    val terms = g.df.select(
      (Seq(g.y.as(g.meta.yDim), g.x.as(g.meta.xDim), dt.as("_dt")) ++
        g.variables.map(v =>
          ((col(v) + lead(col(v), 1).over(w)) / 2.0).as(s"_m_$v"))): _*)
      .filter(col("_dt").isNotNull)
    val aggs = g.variables.map(v =>
      sum(col(s"_m_$v") * col("_dt")).as(s"integral_$v"))
    terms.groupBy(g.meta.yDim, g.meta.xDim).agg(aggs.head, aggs.tail: _*)
  }

  /** Central-difference time derivative per grid cell — xarray's
    * `ds.differentiate("time")`: (v_{i+1} - v_{i-1}) / (t_{i+1} -
    * t_{i-1}) at interior points, one-sided differences at the two
    * edges, in value-units per second. Same single cell-key shuffle.
    */
  /** Per-cell linear trend — xarray `ds.polyfit(dim="time", deg=1)`:
    * ordinary least squares of each variable against time, regressor =
    * hours since the CELL's first observation (centering per cell keeps
    * the normal-equation sums small and exactly representable instead
    * of epoch-sized). Emits `slope_v` (units/hour) and `icept_v`.
    *
    * slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2);
    * intercept = (Sy - slope*Sx) / n.
    * With grid rationals every sum/product above stays exact in IEEE
    * doubles until the final divisions, so the result is
    * cross-engine-deterministic without rounding. The per-cell origin
    * window and the moment agg share the (y, x) keys — Catalyst reuses
    * one exchange; the moments are map-side combinable.
    */
  def polyfitTrend(g: GridDataset): DataFrame = {
    val w = Window.partitionBy(g.y, g.x)
    val t = unix_timestamp(g.time).cast("double")
    val base = g.df.withColumn("_hx", (t - min(t).over(w)) / lit(3600.0))
    val aggs =
      Seq(count(lit(1)).cast("double").as("_n"),
        sum(col("_hx")).as("_sx"),
        sum(col("_hx") * col("_hx")).as("_sxx")) ++
      g.variables.flatMap(v =>
        Seq(sum(col(v)).as(s"_sy_$v"),
          sum(col("_hx") * col(v)).as(s"_sxy_$v")))
    val m = base.groupBy(g.meta.yDim, g.meta.xDim).agg(aggs.head, aggs.tail: _*)
    val out = g.variables.flatMap { v =>
      val slope = (col("_n") * col(s"_sxy_$v") - col("_sx") * col(s"_sy_$v")) /
        (col("_n") * col("_sxx") - col("_sx") * col("_sx"))
      Seq(slope.as(s"slope_$v"),
        ((col(s"_sy_$v") - slope * col("_sx")) / col("_n")).as(s"icept_$v"))
    }
    m.select((Seq(col(g.meta.yDim), col(g.meta.xDim)) ++ out): _*)
  }

  /** Seasonal-naive forecast audit per cell — the forecasting-eval
    * shape behind MASE (Hyndman & Koehler 2006): over every timestep
    * with a full season of history, accumulate the seasonal-naive
    * absolute error |v_t − v_{t−season}| and the one-step-naive
    * absolute error |v_t − v_{t−1}|; `mase_v` = their ratio (< 1
    * means the seasonal forecast beats the random-walk baseline —
    * the go/no-go answer for "is this field diurnally predictable").
    * Both error sums are exact for grid rationals and restricted to
    * the SAME evaluation rows, so the ratio is one deterministic IEEE
    * division. Two lags on one cell-keyed window feeding a combinable
    * agg on the same keys — a single shuffle.
    */
  def seasonalMase(g: GridDataset, season: Int): DataFrame = {
    require(season >= 2, s"season must be >= 2 steps, got $season")
    val w = Window.partitionBy(g.y, g.x).orderBy(g.time)
    val terms = g.df.select(
      (Seq(g.y.as(g.meta.yDim), g.x.as(g.meta.xDim)) ++
        g.variables.flatMap { v =>
          Seq(abs(col(v) - lag(col(v), season).over(w)).as(s"_se_$v"),
            abs(col(v) - lag(col(v), 1).over(w)).as(s"_ne_$v"))
        }): _*)
      .filter(g.variables.map(v => col(s"_se_$v").isNotNull).reduce(_ && _))
    val aggs = g.variables.flatMap(v =>
      Seq(sum(col(s"_se_$v")).as(s"sae_$v"), sum(col(s"_ne_$v")).as(s"sne_$v"))) :+
      count(lit(1)).as("n_eval")
    terms.groupBy(g.meta.yDim, g.meta.xDim).agg(aggs.head, aggs.tail: _*)
      .select((Seq(col(g.meta.yDim), col(g.meta.xDim)) ++
        g.variables.flatMap(v => Seq(col(s"sae_$v"), col(s"sne_$v"),
          (col(s"sae_$v") / col(s"sne_$v")).as(s"mase_$v"))) :+
        col("n_eval")): _*)
  }

  def timeDerivative(g: GridDataset): GridDataset = {
    val w = Window.partitionBy(g.y, g.x).orderBy(g.time)
    val t = unix_timestamp(g.time).cast("double")
    val tp = lag(t, 1).over(w)
    val tn = lead(t, 1).over(w)
    val out = g.variables.foldLeft(g.df) { (d, v) =>
      val vp = lag(col(v), 1).over(w)
      val vn = lead(col(v), 1).over(w)
      d.withColumn(v,
        when(tp.isNull && tn.isNull, lit(null))
          .when(tp.isNull, (vn - col(v)) / (tn - t))   // leading edge
          .when(tn.isNull, (col(v) - vp) / (t - tp))   // trailing edge
          .otherwise((vn - vp) / (tn - tp)))
    }
    g.copy(df = out)
  }
}
