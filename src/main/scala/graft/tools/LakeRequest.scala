package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, dayofmonth}

import graft.model.{BBox, GridDataset}
import graft.operators.{Gssha, PointExtract, SpatialResample, TemporalResample}
import graft.sources.{LakeAdapter, SyntheticGrid, TableSink}

/** The grid_to_table benchmark's request shape on a small lake: the
  * synthetic grid written as Parquet partitioned by day. A request loads
  * a bbox and time window of two variables, regrids bilinearly x2,
  * downsamples to 6-hourly means, writes a four-station point table and
  * collects the GSSHA WES lines. The analyst-path spec budgets it and
  * `Profile request` dumps it.
  */
object LakeRequest {
  val Stations: Seq[(String, Double, Double)] = Seq(("p0", -82.4, 41.9),
    ("p1", -81.6, 42.1), ("p2", -80.9, 41.8), ("p3", -81.1, 42.2))
  val Hmet: Map[String, String] = Map("t2m" -> "Dry Bulb Temperature", "u100" -> "Wind Speed")
  val Box: BBox = BBox(-82.9, 41.6, -80.2, 42.4)
  val Window: (String, String) = ("2019-01-31 00:00:00", "2019-02-01 23:00:00")
  /** A second request's bbox, window and stations, all unlike the first's. */
  val OtherBox: BBox = BBox(-83.2, 41.4, -81.0, 42.2)
  val OtherWindow: (String, String) = ("2019-01-30 06:00:00", "2019-01-31 11:00:00")
  val OtherStations: Seq[(String, Double, Double)] = Seq(("q0", -82.7, 41.6),
    ("q1", -81.9, 41.8), ("q2", -81.3, 42.0), ("q3", -82.2, 42.1))

  /** Write the lake into a new temporary directory, point
    * [[LakeAdapter.root]] at it and return the directory.
    */
  def lake(spark: SparkSession): String = {
    val dir = Files.createTempDirectory("lake").toString
    SyntheticGrid.df(spark).withColumn("day", dayofmonth(col("time")))
      .write.partitionBy("day").parquet(s"$dir/grid")
    LakeAdapter.root = dir
    dir
  }

  def load(spark: SparkSession, b: BBox = Box, w: (String, String) = Window): GridDataset =
    LakeAdapter.load(spark, "grid", Seq("t2m", "u100"), Some(b), Some(w))

  def coarse(g: GridDataset): GridDataset =
    TemporalResample.downsample(SpatialResample.bilinear(g, 2.0, 2.0), "6 hours", "mean")

  /** Request `i`: its table goes to `dir/out/req=i.parquet`; returns the
    * WES lines.
    */
  def apply(spark: SparkSession, dir: String, i: Int, b: BBox = Box,
            w: (String, String) = Window,
            pts: Seq[(String, Double, Double)] = Stations): Array[String] = {
    val c = coarse(load(spark, b, w))
    TableSink.write(PointExtract.pointsToTable(c, pts, "t2m"), s"$dir/out/req=$i.parquet")
    Gssha.wesRows(c, Hmet, roundTo = Some(4)).select("line").collect().map(_.getString(0))
  }
}
