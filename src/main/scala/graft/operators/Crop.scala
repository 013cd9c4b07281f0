package graft.operators

import java.time.{LocalDateTime, ZoneId}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.model.{BBox, GridDataset}

/** Spatial / temporal / timezone cropping (SURVEY.md §2.2 P2-P4).
  *
  * Semantics replicated from the reference:
  *  - bbox crop is *snapped*: each bbox edge is moved to the nearest grid
  *    line before an inclusive range filter, so a cell just outside the
  *    raw bbox can be retained (reference: shared_functions.py:160-198,
  *    nearest-index slicing at :185-191);
  *  - time crop is inclusive on BOTH ends (xarray label-slice semantics,
  *    reference: shared_functions.py:201-212);
  *  - timezone subsetting converts the *bounds* to the dataset timezone
  *    driver-side — never touches row data (reference:
  *    core_functions.py:205-255).
  */
object Crop {

  /** Sorted distinct values of the grid's x and y columns, both axes
    * in ONE aggregate job over the two projected columns. The result is
    * axis-sized (metadata scale), so it is collected as plain arrays.
    * Used when the grid has no uniform-axis metadata, and by
    * [[graft.sources.LakeAdapter]] to derive that metadata.
    */
  def axisValues(g: GridDataset): (IndexedSeq[Double], IndexedSeq[Double]) = {
    val r = g.df.agg(array_sort(collect_set(g.x)), array_sort(collect_set(g.y))).head()
    (r.getSeq[Double](0).toIndexedSeq, r.getSeq[Double](1).toIndexedSeq)
  }

  /** Nearest of the ascending `values` to `target`; ties resolve to the
    * smaller value (NumPy argmin first-occurrence on an ascending axis).
    */
  def nearestOf(values: IndexedSeq[Double], target: Double): Double = {
    require(values.nonEmpty, "axis has no values to snap to")
    values.minBy(v => math.abs(v - target))(Ordering.Double.TotalOrdering)
  }

  /** Snapped inclusive bbox crop. Closed-form snap when axis metadata is
    * present (no extra jobs — the filter constant-folds into the scan);
    * otherwise one axis-sized job ([[axisValues]]) and a snap over its result.
    */
  def bbox(g: GridDataset, b: BBox): GridDataset = {
    val box = b.expandIfDegenerate()
    lazy val scanned = axisValues(g)
    val (xLo, xHi) = g.meta.xAxis match {
      case Some(ax) => (ax.nearestValue(box.west), ax.nearestValue(box.east))
      case None => (nearestOf(scanned._1, box.west), nearestOf(scanned._1, box.east))
    }
    val (yLo, yHi) = g.meta.yAxis match {
      case Some(ay) => (ay.nearestValue(box.south), ay.nearestValue(box.north))
      case None => (nearestOf(scanned._2, box.south), nearestOf(scanned._2, box.north))
    }
    val df = g.df.filter(
      g.x.between(math.min(xLo, xHi), math.max(xLo, xHi)) &&
      g.y.between(math.min(yLo, yHi), math.max(yLo, yHi)))
    // keep axis metadata in sync with the cropped extent (downstream
    // operators — spatial resample, GSSHA headers — derive shape from it)
    val xAxis2 = g.meta.xAxis.map { ax =>
      val lo = math.min(xLo, xHi)
      ax.copy(origin = lo, n = (math.round((math.max(xLo, xHi) - lo) / ax.step) + 1).toInt)
    }
    val yAxis2 = g.meta.yAxis.map { ay =>
      val lo = math.min(yLo, yHi)
      ay.copy(origin = lo, n = (math.round((math.max(yLo, yHi) - lo) / ay.step) + 1).toInt)
    }
    g.copy(df = df, meta = g.meta.copy(xAxis = xAxis2, yAxis = yAxis2))
  }

  /** Bbox crop where the box is given in another CRS: convert the
    * *bounds* to the grid's CRS first (corner transform, driver-side),
    * then snap-crop (reference: shared_functions.py:160-198 converts
    * via utility_functions.py:251-282 before slicing).
    */
  def bboxInCrs(g: GridDataset, b: BBox, bboxEpsg: Int): GridDataset = {
    if (bboxEpsg == g.meta.epsg) bbox(g, b)
    else {
      val proj = graft.functions.Crs.forEpsg(bboxEpsg).getOrElse(
        throw new IllegalArgumentException(s"unsupported bbox EPSG: $bboxEpsg"))
      require(g.meta.epsg == 4326,
        "bboxInCrs converts into a geographic (EPSG:4326) grid")
      bbox(g, graft.functions.Crs.transformBBox(b, proj))
    }
  }

  /** Inclusive-both-ends time crop (P3). */
  def time(g: GridDataset, start: String, end: String): GridDataset =
    g.copy(df = g.df.filter(g.time.between(lit(start).cast(TimestampType),
                                           lit(end).cast(TimestampType))))

  /** Timezone-aware subset (P4): interpret `start`/`end` as wall-clock in
    * `localZone`, convert to the dataset's zone (default UTC when the
    * metadata lacks one — reference warns and assumes UTC), then time-crop.
    * Either bound may be absent — the reference's
    * `subset_time_by_timezone` takes optional start/end and slices
    * open-ended (core_functions.py:205-255; test_3 golden: end-only
    * 2019-02-01T10:00 US/Eastern keeps 64 of the 73 hourly steps).
    */
  def timeByZone(g: GridDataset, start: Option[LocalDateTime],
                 end: Option[LocalDateTime], localZone: String): GridDataset = {
    val dsZone = ZoneId.of(Option(g.meta.timeZone).filter(_.nonEmpty).getOrElse("UTC"))
    def conv(t: LocalDateTime): Timestamp =
      Timestamp.valueOf(t.atZone(ZoneId.of(localZone)).withZoneSameInstant(dsZone).toLocalDateTime)
    val conds = start.map(t => g.time >= lit(conv(t))).toSeq ++
      end.map(t => g.time <= lit(conv(t)))
    conds.reduceOption(_ && _).map(c => g.copy(df = g.df.filter(c))).getOrElse(g)
  }

  def timeByZone(g: GridDataset, start: LocalDateTime, end: LocalDateTime,
                 localZone: String): GridDataset =
    timeByZone(g, Some(start), Some(end), localZone)
}
