package graft.operators

import org.apache.spark.sql.functions._

import graft.functions.Crs
import graft.model.{AxisSpec, GridDataset, GridMeta}

/** Whole-grid CRS reprojection to EPSG:4326 (SURVEY.md §2.11 X2;
  * reference: shared_functions.py:132-157 warps NASA GLanCE from its
  * Lambert-azimuthal grid to lat/lon at ingest).
  *
  * Plan shape: the target lat/lon grid is generated from the projected
  * extent; each target cell center is transformed BACK to the source CRS
  * and snapped to its nearest source cell (GDAL nearest-neighbour warp).
  * The (target-cell -> source-index) mapping is metadata-sized, computed
  * on the driver with exact scalar math (the same place the reference
  * runs pyproj), broadcast, and joined once against the data — the 100 TB
  * of cell values never pass through a trig function.
  */
object Reproject {

  /** @param g    source grid with projected x/y axes (meters)
    * @param proj source projection (see Crs.forEpsg / Crs.GlanceNA)
    * @param nLon target longitude cells (default: keep source width)
    * @param nLat target latitude cells (default: keep source height)
    */
  /** Driver-side warp mapping: target (lon, lat) -> nearest source
    * (jy, jx), plus the target axes. Public so the correctness oracle
    * can be built from the same metadata-sized table the operator
    * broadcasts.
    */
  def wgs84Mapping(xa: AxisSpec, ya: AxisSpec, proj: Crs.Projection,
                   nLon: Int = 0, nLat: Int = 0):
      (Seq[(Double, Double, Long, Long)], AxisSpec, AxisSpec) = {
    val nx2 = if (nLon > 0) nLon else xa.n
    val ny2 = if (nLat > 0) nLat else ya.n
    // geographic extent of the projected grid = corner transform
    val corners = for (x <- Seq(xa.origin - xa.step / 2, xa.last + xa.step / 2);
                       y <- Seq(ya.origin - ya.step / 2, ya.last + ya.step / 2))
      yield proj.inverse(x, y)
    val (lonMin, lonMax) = (corners.map(_._1).min, corners.map(_._1).max)
    val (latMin, latMax) = (corners.map(_._2).min, corners.map(_._2).max)
    val lonAxis = AxisSpec(lonMin + (lonMax - lonMin) / nx2 / 2, (lonMax - lonMin) / nx2, nx2)
    val latAxis = AxisSpec(latMin + (latMax - latMin) / ny2 / 2, (latMax - latMin) / ny2, ny2)
    val mapping = for {
      jy2 <- 0 until ny2; jx2 <- 0 until nx2
      lon = lonAxis.valueAt(jx2); lat = latAxis.valueAt(jy2)
      (px, py) = proj.forward(lon, lat)
      jx = xa.nearestIndex(px); jy = ya.nearestIndex(py)
      // drop target cells whose projected center falls outside the grid
      if px >= xa.origin - xa.step / 2 && px <= xa.last + xa.step / 2 &&
         py >= ya.origin - ya.step / 2 && py <= ya.last + ya.step / 2
    } yield (lon, lat, jy.toLong, jx.toLong)
    (mapping, lonAxis, latAxis)
  }

  def toWgs84(g: GridDataset, proj: Crs.Projection,
              nLon: Int = 0, nLat: Int = 0): GridDataset = {
    val xa = g.meta.xAxis.getOrElse(
      throw new IllegalArgumentException("reproject needs xAxis metadata"))
    val ya = g.meta.yAxis.getOrElse(
      throw new IllegalArgumentException("reproject needs yAxis metadata"))
    val (mapping, lonAxis, latAxis) = wgs84Mapping(xa, ya, proj, nLon, nLat)

    val spark = g.df.sparkSession
    import spark.implicits._
    val mapDf = mapping.toDF("lon", "lat", "jy", "jx")

    val src = SpatialResample.withIndexes(g, xa, ya)
    val vars = g.variables
    val out = src.join(broadcast(mapDf), Seq("jy", "jx"))
      .select((Seq(col(g.meta.timeDim), col("lat"), col("lon")) ++ vars.map(col)): _*)
    GridDataset(out, GridMeta(
      datasetName = g.meta.datasetName, institution = g.meta.institution,
      xDim = "lon", yDim = "lat", timeDim = g.meta.timeDim, epsg = 4326,
      timeStep = g.meta.timeStep, timeZone = g.meta.timeZone,
      xAxis = Some(lonAxis), yAxis = Some(latAxis)))
  }
}
