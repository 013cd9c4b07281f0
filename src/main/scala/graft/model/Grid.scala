package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial area of interest in the grid's CRS (default EPSG:4326).
  *
  * Mirrors the reference's `BoundingBoxDict {west, south, east, north}`
  * (reference: src/xarray_data_accessor/shared_types.py:46-50).
  */
final case class BBox(west: Double, south: Double, east: Double, north: Double) {
  require(west <= east, s"west ($west) must be <= east ($east)")
  require(south <= north, s"south ($south) must be <= north ($north)")

  /** Union of two bboxes (reference: utility_functions.py:171-188). */
  def union(other: BBox): BBox =
    BBox(math.min(west, other.west), math.min(south, other.south),
         math.max(east, other.east), math.max(north, other.north))

  /** Point containment (reference: utility_functions.py:208-221). */
  def contains(lon: Double, lat: Double): Boolean =
    lon >= west && lon <= east && lat >= south && lat <= north

  /** Degenerate (point) bbox expanded by +-0.05 deg per side
    * (reference: utility_functions.py:77-87).
    */
  def expandIfDegenerate(pad: Double = 0.05): BBox = {
    val (w, e) = if (west == east) (west - pad, east + pad) else (west, east)
    val (s, n) = if (south == north) (south - pad, north + pad) else (south, north)
    BBox(w, s, e, n)
  }
}

object BBox {
  /** Bbox from a list of (lat, lon) coordinate points
    * (reference: utility_functions.py:90-114).
    */
  def fromCoords(coords: Seq[(Double, Double)]): BBox = {
    require(coords.nonEmpty, "need at least one coordinate")
    val lats = coords.map(_._1); val lons = coords.map(_._2)
    BBox(lons.min, lats.min, lons.max, lats.max).expandIfDegenerate()
  }
}

/** Metadata carried beside a grid DataFrame — the Spark analog of the
  * reference's Dataset `attrs` (reference: data_accessors/base.py:14-21
  * `AttrsDict {dataset_name, institution, x_dim, y_dim, EPSG, time_step}`).
  *
  * Axis descriptors (`xAxis`/`yAxis`) are present for uniform grids and
  * unlock closed-form coordinate snapping (no distinct-scan of axis
  * values) — the property the reference exploits with NumPy `argmin`
  * over the in-memory axis (reference: to_tables.py:76-85).
  */
final case class AxisSpec(origin: Double, step: Double, n: Int) {
  def last: Double = origin + step * (n - 1)
  /** Index of the grid line nearest to `v`, clamped to the axis
    * (NumPy `argmin(abs(axis - v))` semantics, first-wins on ties —
    * for an ascending axis that is the *lower* index, i.e. round-half-down).
    */
  def nearestIndex(v: Double): Int = {
    val raw = (v - origin) / step
    // round-half-down matches argmin first-occurrence on an ascending axis
    val i = math.ceil(raw - 0.5).toInt
    math.max(0, math.min(n - 1, i))
  }
  def valueAt(i: Int): Double = origin + step * i
  def nearestValue(v: Double): Double = valueAt(nearestIndex(v))
}

object AxisSpec {
  /** The uniform axis through `values` (sorted ascending, distinct), or
    * None. An axis is returned only when `valueAt(i)` reproduces
    * `values(i)` bit for bit: the snapped crop's `between` filter
    * compares stored coordinates against recomputed doubles, so an axis
    * off by one ulp would silently drop an edge row. The values must
    * also be uniform in exact arithmetic, so a sub-axis re-originated on
    * a stored value (as [[graft.operators.Crop.bbox]] does) recomputes
    * stored values too. A longer axis on a decimal step such as 0.1 is
    * not uniform in binary and gives None. Fewer than two values give
    * no step, so None.
    */
  def fromSorted(values: IndexedSeq[Double]): Option[AxisSpec] = {
    if (values.length < 2) return None
    val ax = AxisSpec(values(0), values(1) - values(0), values.length)
    def exact(d: Double) = new java.math.BigDecimal(d)
    val uniform = values.indices.forall { i =>
      ax.valueAt(i) == values(i) && exact(values(i)).compareTo(
        exact(ax.origin).add(exact(ax.step).multiply(java.math.BigDecimal.valueOf(i)))) == 0
    }
    if (uniform && ax.step > 0) Some(ax) else None
  }
}

final case class GridMeta(
    datasetName: String,
    institution: String = "",
    xDim: String = "x",
    yDim: String = "y",
    timeDim: String = "time",
    epsg: Int = 4326,
    timeStep: String = "hourly",
    timeZone: String = "UTC",
    xAxis: Option[AxisSpec] = None,
    yAxis: Option[AxisSpec] = None)

/** A labeled dense grid in long format: one row per (time, y, x) cell,
  * one column per variable (SURVEY.md §1.1). All grid operators are
  * `GridDataset => GridDataset` or `=> DataFrame`.
  */
final case class GridDataset(df: DataFrame, meta: GridMeta) {
  def x: Column = col(meta.xDim)
  def y: Column = col(meta.yDim)
  def time: Column = col(meta.timeDim)

  /** Variable (value) columns = everything that is not a dimension. */
  def variables: Seq[String] = {
    val dims = Set(meta.xDim, meta.yDim, meta.timeDim)
    df.columns.filterNot(dims.contains).toSeq
  }

  /** Lenient variable projection: keep requested variables that exist,
    * warn on the missing ones (reference: utility_functions.py:285-309
    * warns rather than errors on unknown variables).
    */
  def selectVariables(requested: Seq[String]): GridDataset = {
    val have = variables.toSet
    val (ok, missing) = requested.partition(have.contains)
    if (missing.nonEmpty)
      System.err.println(
        s"[graft] variables not in dataset (skipped): ${missing.mkString(", ")}")
    require(ok.nonEmpty, "no requested variable exists in the dataset")
    val dims = Seq(meta.timeDim, meta.yDim, meta.xDim).filter(df.columns.contains)
    copy(df = df.select((dims ++ ok).map(col): _*))
  }

  /** xarray `ds.where(cond)`: keep variable values where `cond` holds,
    * NULL elsewhere (xarray's NaN — the engine's missing value is
    * NULL). Rows are retained; only values are masked.
    */
  def whereMask(cond: Column): GridDataset =
    copy(df = variables.foldLeft(df) { (d, v) =>
      d.withColumn(v, when(cond, col(v)))
    })

  /** xarray `ds.clip(min, max)`: values clamped into [lo, hi]. */
  def clip(lo: Double, hi: Double): GridDataset = {
    require(lo <= hi, s"clip bounds inverted: [$lo, $hi]")
    copy(df = variables.foldLeft(df) { (d, v) =>
      d.withColumn(v, least(greatest(col(v), lit(lo)), lit(hi)))
    })
  }

  /** xarray `ds.fillna(value)`: NULL variable values replaced. */
  def fillna(value: Double): GridDataset =
    copy(df = variables.foldLeft(df) { (d, v) =>
      d.withColumn(v, coalesce(col(v), lit(value)))
    })

  private def timeWindow =
    org.apache.spark.sql.expressions.Window
      .partitionBy(col(meta.yDim), col(meta.xDim)).orderBy(col(meta.timeDim))

  /** xarray `ds.shift(time=n)`: variable values moved n steps forward
    * along time per cell (NULL at the first n steps); coordinates stay
    * put. One cell-keyed window, no shuffle beyond the cell keys.
    */
  def shiftTime(n: Int): GridDataset = {
    require(n >= 1, s"shift must be >= 1 step, got $n")
    copy(df = variables.foldLeft(df) { (d, v) =>
      d.withColumn(v, lag(col(v), n).over(timeWindow))
    })
  }

  /** xarray `ds.diff("time", n=1)`: the n-th ORDER difference along
    * time per cell — the single-step difference iterated n times
    * (xarray's semantics; the span difference v_t − v_{t−n} is a
    * different operator). xarray drops the first n labels; the
    * relational model keeps the rows with NULL values instead (rows
    * are never dropped, the [[whereMask]] convention), so the time
    * axis stays aligned.
    */
  def diffTime(n: Int = 1): GridDataset = {
    require(n >= 1, s"diff must be >= 1 step, got $n")
    (1 to n).foldLeft(this) { (g, _) =>
      g.copy(df = g.variables.foldLeft(g.df) { (d, v) =>
        d.withColumn(v, col(v) - lag(col(v), 1).over(timeWindow))
      })
    }
  }

  /** xarray `ds.cumsum("time")`: running sum along time per cell (NULL
    * values contribute nothing, matching xarray's skipna default).
    */
  def cumsumTime: GridDataset =
    copy(df = variables.foldLeft(df) { (d, v) =>
      d.withColumn(v, sum(col(v)).over(timeWindow.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
    })
}
