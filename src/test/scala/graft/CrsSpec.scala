package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.functions.{Crs, ShapefileBounds}
import graft.model.{AxisSpec, BBox, GridDataset, GridMeta}
import graft.operators.Reproject

class CrsSpec extends SparkSpec {

  test("shapefile header bounds reproject to the reference's exact AOI (S4)") {
    val shp = "/root/reference/testing/test_data/LEEM_boundary.shp"
    // the reference's shapefile is not part of this repository: the
    // golden runs wherever that checkout is present and is canceled
    // elsewhere (the header read itself is covered by the next spec)
    assume(Files.exists(Paths.get(shp)), s"reference fixture $shp not present")
    val b = ShapefileBounds.wgs84Bounds(shp)
    // expected bbox from reference test_2_era5.py:91-104
    assert(math.abs(b.west - -83.47519) < 1e-4, s"west ${b.west}")
    assert(math.abs(b.south - 41.38284) < 1e-4, s"south ${b.south}")
    assert(math.abs(b.east - -78.85399) < 1e-4, s"east ${b.east}")
    assert(math.abs(b.north - 42.90550) < 1e-4, s"north ${b.north}")
  }

  test("shapefile header: bbox doubles at 36/44/52/60, .prj sidecar reprojects, short file refused") {
    val dir = Files.createTempDirectory("shp_header")
    // a 100-byte main-file header (ESRI whitepaper, 1998): big-endian
    // file code and length in 16-bit words, little-endian version,
    // shape type and the eight range doubles x/y/z/m
    def writeHeader(name: String, b: BBox): String = {
      val bb = ByteBuffer.allocate(100)
      bb.order(ByteOrder.BIG_ENDIAN).putInt(0, 9994).putInt(24, 50)
      bb.order(ByteOrder.LITTLE_ENDIAN).putInt(28, 1000).putInt(32, 5)
      Seq(b.west, b.south, b.east, b.north, -1.5, 2.5, -3.5, 4.5)
        .zipWithIndex.foreach { case (v, i) => bb.putDouble(36 + 8 * i, v) }
      val path = dir.resolve(name)
      Files.write(path, bb.array())
      path.toString
    }
    // NAD83 / UTM 15N, as the reference's gssha_demo watershed .prj
    val utmPrj = """PROJCS["NAD_1983_UTM_Zone_15N",GEOGCS["GCS_North_American_1983",
      |DATUM["D_North_American_1983",SPHEROID["GRS_1980",6378137.0,298.257222101]],
      |PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],
      |PROJECTION["Transverse_Mercator"],PARAMETER["False_Easting",500000.0],
      |PARAMETER["False_Northing",0.0],PARAMETER["Central_Meridian",-93.0],
      |PARAMETER["Scale_Factor",0.9996],PARAMETER["Latitude_Of_Origin",0.0],
      |UNIT["Meter",1.0]]""".stripMargin
    val utmRaw = BBox(712345.25, 4263456.5, 745678.75, 4301234.125)
    val utmShp = writeHeader("watershed.shp", utmRaw)
    Files.writeString(dir.resolve("watershed.prj"), utmPrj)
    // the four bbox doubles are read bit for bit from their offsets
    assert(ShapefileBounds.rawBounds(utmShp) == utmRaw)
    // the .prj sidecar is picked up: the bounds are the UTM 15N corners
    // taken back to WGS84, not the raw meters
    val tm = Crs.TransverseMercator(lon0Deg = -93.0)
    val expect = Crs.transformBBox(utmRaw, tm)
    val got = ShapefileBounds.wgs84Bounds(utmShp)
    Seq((got.west, expect.west), (got.south, expect.south),
        (got.east, expect.east), (got.north, expect.north)).foreach {
      case (g, e) => assert(math.abs(g - e) < 1e-9, s"$got != $expect")
    }
    assert(got.west > -91.0 && got.east < -90.0 &&
      got.south > 38.0 && got.north < 39.0, s"not near St. Louis: $got")
    // no sidecar: the header bounds are taken as geographic, unchanged
    val geoRaw = BBox(-83.47519, 41.38284, -78.85399, 42.90550)
    val geoShp = writeHeader("aoi.shp", geoRaw)
    assert(ShapefileBounds.wgs84Bounds(geoShp) == geoRaw)
    // a file shorter than the 100-byte header is refused
    val short = dir.resolve("short.shp")
    Files.write(short, Array.fill[Byte](99)(0))
    intercept[IllegalArgumentException](ShapefileBounds.rawBounds(short.toString))
    intercept[IllegalArgumentException](ShapefileBounds.wgs84Bounds(short.toString))
  }

  test("prj Transverse_Mercator honors latitude_of_origin (state-plane, not just UTM)") {
    // a state-plane-style TM with lat_0 = 29.5: northings are measured
    // from lat_0, so the parser must fold the scaled meridian arc at
    // lat_0 into the effective false northing — ignoring it would
    // misplace latitudes by thousands of km while still looking like
    // plausible lon/lat
    val prj = """PROJCS["MS East",GEOGCS["NAD83",DATUM["NAD83",
      |SPHEROID["GRS 1980",6378137,298.257222101]]],
      |PROJECTION["Transverse_Mercator"],
      |PARAMETER["latitude_of_origin",29.5],
      |PARAMETER["central_meridian",-88.83333333333333],
      |PARAMETER["scale_factor",0.99995],
      |PARAMETER["false_easting",300000],
      |PARAMETER["false_northing",0],UNIT["Meter",1]]""".stripMargin
    val p = ShapefileBounds.projectionFromPrj(prj).get
    // ground truth: project a known point with the SAME Krüger kernel
    // measured from the equator, shifted by the arc at lat_0
    val base = Crs.TransverseMercator(lon0Deg = -88.83333333333333,
      k0 = 0.99995, falseEasting = 300000.0, falseNorthing = 0.0)
    val (lon, lat) = (-88.5, 32.3)
    val (xe, ye) = base.forward(lon, lat)
    val yStatePlane = ye - base.forward(-88.83333333333333, 29.5)._2
    val (lonBack, latBack) = p.inverse(xe, yStatePlane)
    assert(math.abs(lonBack - lon) < 1e-9 && math.abs(latBack - lat) < 1e-9,
      s"state-plane inverse off: ($lonBack, $latBack)")
    // UTM-style prj (lat_0 = 0) is unchanged by the correction
    val utm = ShapefileBounds.projectionFromPrj(
      """PROJECTION["Transverse_Mercator"],
        |PARAMETER["latitude_of_origin",0],
        |PARAMETER["central_meridian",-93],
        |PARAMETER["scale_factor",0.9996],
        |PARAMETER["false_easting",500000],
        |PARAMETER["false_northing",0]""".stripMargin).get
    val (ux, uy) = Crs.TransverseMercator(lon0Deg = -93.0).forward(-90.0, 38.75)
    val (ulon, ulat) = utm.inverse(ux, uy)
    assert(math.abs(ulon - -90.0) < 1e-9 && math.abs(ulat - 38.75) < 1e-9)
  }

  test("prj parameter names match case-insensitively; TM without a central meridian is refused") {
    // ESRI-written .prj files Capitalize parameter names
    // ("Central_Meridian", "False_Easting"); proj/GDAL write them
    // lowercase — both spellings must parse to the SAME projection,
    // or a capitalized state-plane file silently projects with
    // lon0=0 / FE=500000 and lands an ocean away (the r8 ADVICE item)
    val esri = """PROJCS["NAD_1983_UTM_Zone_15N",GEOGCS["GCS_North_American_1983",
      |DATUM["D_North_American_1983",SPHEROID["GRS_1980",6378137.0,298.257222101]]],
      |PROJECTION["Transverse_Mercator"],
      |PARAMETER["False_Easting",500000.0],
      |PARAMETER["False_Northing",0.0],
      |PARAMETER["Central_Meridian",-93.0],
      |PARAMETER["Scale_Factor",0.9996],
      |PARAMETER["Latitude_Of_Origin",0.0],UNIT["Meter",1.0]]""".stripMargin
    // FULLY lowercased — projection names and parameters both: the
    // detection path must be as case-tolerant as the parameter regex
    val lower = esri.toLowerCase
    val pe = ShapefileBounds.projectionFromPrj(esri).get
    val pl = ShapefileBounds.projectionFromPrj(lower).get
    val (xe, ye) = pe.inverse(432972.0, 4898851.0)
    val (xl, yl) = pl.inverse(432972.0, 4898851.0)
    assert(math.abs(xe - xl) < 1e-12 && math.abs(ye - yl) < 1e-12,
      s"ESRI vs lowercase .prj diverge: ($xe,$ye) vs ($xl,$yl)")
    // sanity: the parsed zone really is UTM 15N (lon near -93)
    assert(math.abs(xe - -93.0) < 3.0, s"not zone 15N: lon=$xe")
    // a TM .prj with NO central meridian is unusable: refuse (None →
    // the caller keeps raw bounds) instead of defaulting lon0 = 0 and
    // producing plausible-looking but wildly wrong WGS84 bounds
    val broken = """PROJECTION["Transverse_Mercator"],
      |PARAMETER["Scale_Factor",0.9996],
      |PARAMETER["False_Easting",500000.0]""".stripMargin
    assert(ShapefileBounds.projectionFromPrj(broken).isEmpty)
  }

  test("web mercator round-trips and matches the spherical formula") {
    val (x, y) = Crs.WebMercator.forward(-83.0, 41.5)
    val (lon, lat) = Crs.WebMercator.inverse(x, y)
    assert(math.abs(lon - -83.0) < 1e-12 && math.abs(lat - 41.5) < 1e-12)
    assert(math.abs(x - 6378137.0 * -83.0 * math.Pi / 180) < 1e-6) // R * lon(rad)
  }

  test("UTM 15N (EPSG:26915): central-meridian easting and round-trip") {
    val utm = Crs.forEpsg(26915).get
    val (e0, n0) = utm.forward(-93.0, 45.0)
    assert(math.abs(e0 - 500000.0) < 1e-6)       // on the central meridian
    assert(math.abs(n0 - 4982950.4) < 5.0)       // k0 * meridian arc to 45N
    val (lon, lat) = utm.inverse(e0, n0)
    assert(math.abs(lon - -93.0) < 1e-9 && math.abs(lat - 45.0) < 1e-9)
    // off-meridian round trip
    val (e1, n1) = utm.forward(-90.25, 41.3)
    val (lon1, lat1) = utm.inverse(e1, n1)
    assert(math.abs(lon1 - -90.25) < 1e-8 && math.abs(lat1 - 41.3) < 1e-8)
  }

  test("GLanCE LAEA: center maps to origin, round-trips, equal-area sanity") {
    val p = Crs.GlanceNA
    val (x0, y0) = p.forward(-100.0, 50.0)
    assert(math.abs(x0) < 1e-6 && math.abs(y0) < 1e-6)
    val (e, n) = p.forward(-83.2, 41.6)
    val (lon, lat) = p.inverse(e, n)
    assert(math.abs(lon - -83.2) < 1e-7 && math.abs(lat - 41.6) < 1e-7)
  }

  test("bbox in a foreign CRS converts bounds before the snap crop (P2+F3)") {
    import graft.operators.Crop
    import graft.model.BBox
    val g = graft.sources.SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))
    // the same raw box expressed in Web Mercator meters
    val (w, s) = Crs.WebMercator.forward(-82.9, 41.6)
    val (e, n) = Crs.WebMercator.forward(-80.2, 42.4)
    val viaMercator = Crop.bboxInCrs(g, BBox(w, s, e, n), 3857)
    val direct = Crop.bbox(g, BBox(-82.9, 41.6, -80.2, 42.4))
    assert(viaMercator.df.count() == direct.df.count())
    assert(viaMercator.df.except(direct.df).count() == 0)
    assertThrows[IllegalArgumentException](
      Crop.bboxInCrs(g, BBox(0, 0, 1, 1), 99999))
  }

  test("reproject: LAEA grid warps to a lat/lon grid (X2)") {
    import spark.implicits._
    // build a small projected grid around the Lake Erie area in GLanCE CRS
    val p = Crs.GlanceNA
    val (cx, cy) = p.forward(-81.0, 42.0)
    val nx = 20; val ny = 10; val step = 30000.0
    val xa = AxisSpec(cx - step * (nx - 1) / 2, step, nx)
    val ya = AxisSpec(cy - step * (ny - 1) / 2, step, ny)
    val rows = for (jy <- 0 until ny; jx <- 0 until nx)
      yield ("2019-01-30 00:00:00", ya.valueAt(jy), xa.valueAt(jx), (jy * nx + jx).toDouble)
    val df = rows.toDF("ts", "y", "x", "v")
      .select(col("ts").cast("timestamp").as("time"), col("y"), col("x"), col("v"))
    val g = GridDataset(df, GridMeta(datasetName = "glance-test", epsg = 0,
      xAxis = Some(xa), yAxis = Some(ya)))
    val out = Reproject.toWgs84(g, p)
    assert(out.meta.epsg == 4326)
    assert(out.meta.xDim == "lon" && out.meta.yDim == "lat")
    val n = out.df.count()
    assert(n > 0 && n <= nx.toLong * ny)
    // values survive the warp unchanged (nearest-neighbour)
    val vals = out.df.select("v").distinct().count()
    assert(vals > nx) // many distinct source cells represented
    val lonRange = out.df.agg(min("lon"), max("lon")).collect()(0)
    assert(lonRange.getDouble(0) > -85.5 && lonRange.getDouble(1) < -76.5)
  }
}
