package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.GridDataset

/** Point time-series extraction — the reference's signature "query"
  * (SURVEY.md §2.9 R1; reference: to_tables.py:24-130).
  *
  * Pipeline: snap each sample point to its nearest grid cell (J2), then
  * widen to a table: one row per timestamp, one column per point id.
  *
  * Plan shape (the deliberate improvement over the reference, which
  * pivots ALL cells x time and then selects ~3 columns): the point list
  * is tiny, so snapping happens driver-side (exactly like the reference's
  * NumPy argmin) and the grid is filtered to the matched cells BEFORE the
  * widening — predicate pushdown to the scan (or, over a regrid, into the
  * local target relation). Each row's points come from one literal map
  * keyed by cell, and the table is ONE aggregate keyed by time with a
  * conditional `first` per point: one exchange on time, where a pivot
  * aggregates by (time, point_id) and then by time. The table has one row
  * per timestep, so it is gathered into one partition (a one-partition
  * exchange of those rows) and sorted there: no range shuffle, no
  * sampling job, one output file. A gather, not a coalesce: with no
  * exchange below (a downsample over a regrid aggregates by time in the
  * crop exchange's partitions), coalescing would run the whole regrid
  * in one task.
  */
object PointExtract {

  /** (pointId, lon, lat) -> nearest cell (x, y), computed from axis
    * metadata (closed form) or, without it, from ONE axis-sized job for
    * the whole point list ([[Crop.axisValues]]) and a snap over its result.
    */
  def snapPoints(g: GridDataset, points: Seq[(String, Double, Double)]): Seq[(String, Double, Double)] = {
    lazy val scanned = Crop.axisValues(g)
    points.map { case (id, lon, lat) =>
      val sx = g.meta.xAxis.fold(Crop.nearestOf(scanned._1, lon))(_.nearestValue(lon))
      val sy = g.meta.yAxis.fold(Crop.nearestOf(scanned._2, lat))(_.nearestValue(lat))
      (id, sx, sy)
    }
  }

  /** Wide table: time x point-id for one variable, ordered by time.
    * Ties (two points snapping to the same cell) are fine — each point id
    * is its own output column.
    */
  def pointsToTable(g: GridDataset, points: Seq[(String, Double, Double)],
                    variable: String): DataFrame = {
    require(points.nonEmpty, "need at least one point")
    val snapped = snapPoints(g, points)
    val cellFilter = snapped.map { case (_, sx, sy) =>
      g.x === sx && g.y === sy
    }.reduce(_ || _)
    // points by cell as one literal map, which constant-folds to a
    // single object the generated code references, so the station
    // coordinates stay out of the compiled source. Two points may snap
    // to the same cell, so a cell maps to the ARRAY of its points. A
    // point is its position in the list, not its id: string ids in the
    // aggregate would reorder Spark's common subexpressions by their
    // hashes, so every new id set would compile new code.
    def cell(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val indexed = snapped.zipWithIndex
    val byCell = indexed.groupBy { case ((_, sx, sy), _) => (sx, sy) }.toSeq
    val pointsByCell = map_from_arrays(
      array(byCell.map { case ((sx, sy), _) => cell(lit(sx), lit(sy)) }: _*),
      array(byCell.map { case (_, ps) => array(ps.map(p => lit(p._2)): _*) }: _*))
    // each (time, point) is one row: a point's cell holds one value per
    // timestep, so `first` ignoring the other points' nulls is it
    val columns = indexed.map { case ((id, _, _), i) =>
      first(when(col("point") === i, col(variable)), ignoreNulls = true).as(id)
    }
    g.df.filter(cellFilter)
      .select(g.time, explode(pointsByCell(cell(g.x, g.y))).as("point"), col(variable))
      .groupBy(g.time)
      .agg(columns.head, columns.tail: _*)
      .repartition(1)
      .orderBy(g.time)
  }

  /** Bilinear interpolation of a variable at scattered points, per
    * timestep — the xarray `ds.interp(x=..., y=..., method="linear")`
    * surface (J2's nearest-cell match is the method="nearest" analog).
    *
    * For each point: enclosing-cell lower indices i0/j0 (clamped to
    * keep the 2x2 stencil in-grid), fractional offsets fx/fy, and the
    * four corner weights (1−fx)(1−fy), fx(1−fy), (1−fx)fy, fx·fy —
    * all computed DRIVER-SIDE in plain IEEE doubles from the axis
    * metadata (closed form, no axis scan), then applied as literal
    * coefficients in ONE conditional-aggregation pass over the grid
    * rows of the (points × 4) stencil cells: the scan is pruned to
    * stencil cells by a pushed filter, each corner value lands in its
    * own agg slot, and the weighted sum is a FIXED-ORDER expression —
    * no group-order float hazard anywhere. One shuffle keyed by time,
    * rows bounded by timesteps × points.
    */
  def bilinearPoints(g: GridDataset, points: Seq[(String, Double, Double)],
                     variable: String): DataFrame = {
    require(points.nonEmpty, "need at least one point")
    val xa = g.meta.xAxis.getOrElse(throw new IllegalArgumentException(
      "bilinear interp needs xAxis metadata"))
    val ya = g.meta.yAxis.getOrElse(throw new IllegalArgumentException(
      "bilinear interp needs yAxis metadata"))
    require(xa.n >= 2 && ya.n >= 2,
      "bilinear interp needs at least a 2x2 grid")
    // no silent extrapolation: the index clamp alone would leave fx/fy
    // unbounded and produce weights far outside [0,1] for out-of-domain
    // points (xarray interp yields NaN there; this engine fails fast)
    points.foreach { case (id, lon, lat) =>
      require(lon >= xa.origin && lon <= xa.last &&
        lat >= ya.origin && lat <= ya.last,
        s"point $id ($lon, $lat) is outside the grid domain " +
          s"[${xa.origin}, ${xa.last}] x [${ya.origin}, ${ya.last}]")
    }
    final case class Stencil(id: String, xs: Array[Double], ys: Array[Double],
                             w: Array[Double])
    val stencils = points.map { case (id, lon, lat) =>
      def locate(v: Double, ax: graft.model.AxisSpec): (Int, Double) = {
        val raw = math.floor((v - ax.origin) / ax.step).toInt
        val i0 = math.max(0, math.min(ax.n - 2, raw))
        (i0, (v - ax.valueAt(i0)) / ax.step)
      }
      val (i0, fx) = locate(lon, xa)
      val (j0, fy) = locate(lat, ya)
      Stencil(id,
        Array(xa.valueAt(i0), xa.valueAt(i0 + 1)),
        Array(ya.valueAt(j0), ya.valueAt(j0 + 1)),
        Array((1 - fx) * (1 - fy), fx * (1 - fy), (1 - fx) * fy, fx * fy))
    }
    val cellFilter = stencils.flatMap(st =>
      for (cx <- st.xs.toSeq; cy <- st.ys.toSeq)
        yield g.x === cx && g.y === cy)
      .reduce(_ || _)
    // one agg slot per (point, corner): sum(when(cell)) isolates the
    // corner value; corners are distinct cells so each slot sees one row
    val slots = stencils.flatMap { st =>
      for ((cx, ci) <- st.xs.toSeq.zipWithIndex; (cy, cj) <- st.ys.toSeq.zipWithIndex)
        yield sum(when(g.x === cx && g.y === cy, col(variable)))
          .as(s"_${st.id}_${ci}_$cj")
    }
    val agg = g.df.filter(cellFilter).groupBy(g.time)
      .agg(slots.head, slots.tail: _*)
    // all points read off ONE select over the aggregate — an array of
    // (point_id, value) structs exploded to rows. A per-point select
    // union would make Catalyst duplicate the aggregate subtree per
    // branch and re-run the scan+agg once per point.
    val entries = stencils.map { st =>
      val v = col(s"_${st.id}_0_0") * st.w(0) + col(s"_${st.id}_1_0") * st.w(1) +
        col(s"_${st.id}_0_1") * st.w(2) + col(s"_${st.id}_1_1") * st.w(3)
      struct(lit(st.id).as("point_id"), v.as("v"))
    }
    agg.select(g.time.as(g.meta.timeDim), explode(array(entries: _*)).as("e"))
      .select(col(g.meta.timeDim), col("e.point_id").as("point_id"),
        col("e.v").as(variable))
  }
}
