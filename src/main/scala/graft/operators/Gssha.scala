package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.GridDataset

/** GSSHA hydrology-model sinks (SURVEY.md §2.10).
  *
  * Each sink is a render *query* (DataFrame of output lines / file
  * payloads) plus a small writer. The render stays distributed — grouping
  * and string assembly are ordinary aggregations; only the final file
  * write collects, and these outputs are inherently small (one line or
  * one small grid per timestep).
  *
  * HMET registry ported as data from reference info/gssha.py:38-89
  * (7 variables, wes_index 0-6, per-variable ASCII names + nodata
  * sentinels); dtype-derived fallback sentinels from to_gssha.py:216-238
  * (int -> 999, otherwise 99.999).
  */
object Gssha {

  final case class HmetVariable(name: String, units: String,
      asciiFileName: String, wesIndex: Int, isInt: Boolean,
      nodata: Double, alias: Option[String] = None)

  val HmetVariables: Seq[HmetVariable] = Seq(
    HmetVariable("Barometric Pressure", "in Hg", "Pres", 0, isInt = false, 99.999, Some("Atmospheric Pressure")),
    HmetVariable("Relative Humidity", "%", "RIHm", 1, isInt = true, 999),
    HmetVariable("Total Sky Cover", "%", "Clod", 2, isInt = true, 999, Some("Cloud Cover")),
    HmetVariable("Wind Speed", "kts", "WndS", 3, isInt = true, 999),
    HmetVariable("Dry Bulb Temperature", "F", "Temp", 4, isInt = true, 999, Some("Temperature")),
    HmetVariable("Direct Radiation", "W*h/m^2", "Drad", 5, isInt = false, 999.99),
    HmetVariable("Global Radiation", "W*h/m^2", "Grad", 6, isInt = false, 999.99))

  private val hmetByName: Map[String, HmetVariable] =
    HmetVariables.map(v => v.name -> v).toMap

  /** NoData sentinel fill (F5; reference to_gssha.py:216-238). */
  def fillNodata(g: GridDataset, variable: String, hmet: Option[String]): GridDataset = {
    val sentinel = hmet.flatMap(hmetByName.get).map(_.nodata).getOrElse(99.999)
    g.copy(df = g.df.withColumn(variable, coalesce(col(variable), lit(sentinel))))
  }

  private def ts(c: Column): Column = date_format(c, "yyyy MM dd HH mm")

  /** Gage-file header: one `COORD <x> <y>` line per grid cell, optionally
    * transformed to `outputEpsg` (reference: to_gssha.py:116-155 runs the
    * same per-cell pyproj transform driver-side; cell count is tiny).
    */
  def gageHeader(g: GridDataset, variable: String, eventName: String,
                 nGages: Int, outputEpsg: Option[Int] = None): Seq[String] = {
    val cells = g.df.select(g.x, g.y).distinct()
      .orderBy(g.x, g.y).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val proj = outputEpsg.flatMap(graft.functions.Crs.forEpsg)
    val coords = proj match {
      case Some(p) => cells.map { case (lon, lat) => p.forward(lon, lat) }
      case None => cells
    }
    Seq(s"EVENT $eventName", s"NRPDS $nGages", s"NRGAG ${coords.length}") ++
      coords.zipWithIndex.map { case ((x, y), i) => s"COORD $x $y \"gage_$i\"" }
  }

  /** Precipitation gage event block rows (G-a): per event, the data rows
    * `<TYPE> <yyyy MM dd HH mm> <v_cell1> <v_cell2> ...` with cells
    * ordered by (x, time) as the reference sorts (to_gssha.py:299-309);
    * within a row values are in x-major cell order.
    * Returns (event, time, line) ordered by (event, time).
    */
  def gageRows(g: GridDataset, variable: String, precipType: String,
               events: Seq[(String, String, String)]): DataFrame = {
    val spark = g.df.sparkSession
    val evDf = spark.createDataFrame(events).toDF("event", "start", "end")
      .select(col("event"), col("start").cast("timestamp").as("start"),
              col("end").cast("timestamp").as("end"))
    g.df.join(broadcast(evDf), g.time.between(col("start"), col("end")))
      .groupBy(col("event"), g.time)
      .agg(array_join(transform(array_sort(
          collect_list(struct(g.x, g.y, col(variable).as("v")))),
        c => c.getField("v").cast("string")), " ").as("vals"))
      .select(col("event"), g.time,
        concat_ws(" ", lit(precipType), ts(g.time), col("vals")).as("line"))
      .orderBy(col("event"), g.time)
  }

  /** GRASS ASCII grid payloads (G-b): one row per timestep with the
    * header (north/south/east/west/rows/cols) + space-separated grid
    * values, y descending then x ascending (raster row order), and the
    * `yyyyMMddHH_<name>.asc` file name.
    */
  def grassAscii(g: GridDataset, variable: String, hmet: Option[String]): DataFrame = {
    val name = hmet.flatMap(hmetByName.get).map(_.asciiFileName)
      .getOrElse(variable.replace(' ', '_'))
    val filled = fillNodata(g, variable, hmet)
    val (xa, ya) = (g.meta.xAxis, g.meta.yAxis)
    val (w, e) = xa.map(a => (a.origin, a.last)).getOrElse((0.0, 0.0))
    val (s, n) = ya.map(a => (a.origin, a.last)).getOrElse((0.0, 0.0))
    val header = xa.flatMap(ax => ya.map(ay =>
      s"north: $n\nsouth: $s\neast: $e\nwest: $w\nrows: ${ay.n}\ncols: ${ax.n}\n"))
      .getOrElse("")
    // row strings per (time, y), then grid string per time, y descending
    val rows = filled.df
      .groupBy(g.time, g.y)
      .agg(array_join(transform(array_sort(
          collect_list(struct(g.x, col(variable).as("v")))),
        c => c.getField("v").cast("string")), " ").as("rowstr"))
    rows
      .groupBy(g.time)
      .agg(array_join(transform(reverse(array_sort(
          collect_list(struct(g.y, col("rowstr").as("r"))))),
        c => c.getField("r")), "\n").as("body"))
      .select(g.time,
        concat(date_format(g.time, "yyyyMMddHH"), lit(s"_$name.asc")).as("file_name"),
        concat(lit(header), col("body")).as("content"))
      .orderBy(g.time)
  }

  /** HMET WES rows (G-c): spatial aggregate per timestep (A3) for each
    * mapped HMET variable in wes_index order; unmapped HMET variables
    * emit their nodata sentinel (reference to_gssha.py:481-595).
    * `how` in {mean, sum, max, min, std, median}. `roundTo` rounds the
    * aggregate before rendering (the reference's pandas `to_string`
    * applies its own display precision; a fixed rounding makes the
    * rendered line reproducible across engines).
    */
  def wesRows(g: GridDataset, variableToHmet: Map[String, String],
              how: String = "mean", roundTo: Option[Int] = None): DataFrame = {
    val hmetToVar = variableToHmet.map(_.swap)
    def aggOf(v: String): Column = {
      val a = how match {
        case "mean"   => avg(col(v))
        case "sum"    => sum(col(v))
        case "max"    => max(col(v))
        case "min"    => min(col(v))
        case "std"    => stddev(col(v))
        case "median" => median(col(v))
        case other    => throw new IllegalArgumentException(s"unknown how: $other")
      }
      roundTo.map(d => round(a, d)).getOrElse(a)
    }
    val cols = HmetVariables.sortBy(_.wesIndex).map { hv =>
      hmetToVar.get(hv.name) match {
        case Some(v) => aggOf(v).as(hv.asciiFileName)
        case None    => first(lit(hv.nodata)).as(hv.asciiFileName)
      }
    }
    g.df.groupBy(g.time)
      .agg(cols.head, cols.tail: _*)
      .select(g.time, concat_ws(" ", (ts(g.time) +:
        HmetVariables.sortBy(_.wesIndex).map(hv => col(hv.asciiFileName).cast("string"))): _*).as("line"))
      .repartition(1) // one line per timestep: gather, sort in one partition, no range shuffle
      .orderBy(g.time)
  }

  /** Write one GRASS ASCII file per timestep from a `grassAscii` result
    * (reference: to_gssha.py:461-467 names files `YYYYMMDDHH_<name>.asc`;
    * test_5_gssha.py:58-73 asserts one file per timestep).
    */
  def writeGrassFiles(rendered: DataFrame, dir: String): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    rendered.select(col("file_name"), col("content")).collect().map { r =>
      val p = java.nio.file.Paths.get(dir, r.getString(0))
      java.nio.file.Files.writeString(p, r.getString(1))
      p.toString
    }.toSeq
  }

  /** Writer: collect (small, per-timestep) rendered payloads to files.
    * `hotStart` appends instead of overwriting (reference
    * to_gssha.py:28-31,91-96).
    */
  def writeLines(df: DataFrame, lineCol: String, path: String, hotStart: Boolean = false): Unit = {
    val text = df.select(col(lineCol)).collect().map(_.getString(0)).mkString("", "\n", "\n")
    val p = java.nio.file.Paths.get(path)
    if (hotStart && java.nio.file.Files.exists(p))
      java.nio.file.Files.writeString(p, text, java.nio.file.StandardOpenOption.APPEND)
    else java.nio.file.Files.writeString(p, text)
  }
}
