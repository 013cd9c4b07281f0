package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import graft.tools.Profile

/** The profiling tool's three modes on one sf0.001 query, run against
  * the shared test session: each leaves the session running, and
  * `dump` counts the jobs [[SparkSpec.countingJobs]] counts for the
  * same run.
  */
class ProfileSpec extends SparkSpec {
  private val q = "n89_domain_pagerank"

  private def profile(mode: String, names: String*): String = {
    val buf = new ByteArrayOutputStream
    Profile.run(spark, sf, mode, names, new PrintStream(buf, true, "UTF-8"))
    assert(!spark.sparkContext.isStopped, s"$mode stopped the shared session")
    buf.toString("UTF-8")
  }

  test("Profile dump: countingJobs' job count, the job list, the result's rows and hash, scan counts") {
    val aqe = "spark.sql.adaptive.enabled"
    val savedAqe = spark.conf.getOption(aqe)
    val text = profile("dump", q)
    assert(spark.conf.getOption(aqe) == savedAqe, "dump must restore the AQE setting")
    val jobs = s"(?m)^== $q: (\\d+) jobs ==$$".r.findFirstMatchIn(text)
      .map(_.group(1).toInt)
    val (_, counted) = countingJobs(Bench.once(spark, sf, q, SparkEntry.queries(q)))
    assert(jobs.contains(counted), s"dump job count $jobs, countingJobs $counted")
    assert("(?m)^job +\\d+: stages=[1-9]\\d* tasks=[1-9]\\d* site=\\S".r
      .findAllIn(text).size == counted)
    val rows = SparkEntry.queries(q)(spark, sf).count()
    assert(rows > 0)
    assert(s"(?m)^result: $rows rows, sha256 of sorted rows [0-9a-f]{16}$$".r
      .findFirstIn(text).isDefined)
    assert("(?m)^---- execution \\d+: .*, [1-9]\\d* scans ----$".r
      .findFirstIn(text).isDefined, "no execution reports a scan")
    assert(text.contains("== Physical Plan ==") && text.contains("---- metrics ----"))
    assert(!text.contains(sf), "the test-data directory is written as <testdata>")
  }

  test("Profile stages and explain leave the session running; unknown modes and names fail") {
    val st = profile("stages", q, q)
    assert(st.contains(s"[stages] $q run=1 ") && st.contains(s"[stages] $q run=2 "))
    assert("(?m)^ +\\d+\\.\\d+ s \\(deser=".r.findFirstIn(st).isDefined,
      "no per-stage table")
    val ex = profile("explain", q)
    assert(ex.contains(s"========== $q ==========") && ex.contains("== Physical Plan =="))
    intercept[IllegalArgumentException](profile("bogus", q))
    intercept[IllegalArgumentException](profile("dump", "no_such_query"))
  }

  test("Profile dump and explain show a regrid's shared crop once, its scan and exchange counted") {
    val g10 = "g10_spatial_bilinear_x2"
    val header = "---- shared sub-plan"
    def shownOnce(text: String) = {
      assert(text.split(header, -1).length == 2, "the shared crop is shown once")
      val shared = text.substring(text.indexOf(header))
      assert(shared.contains("Exchange") && shared.contains("hashpartitioning(time"))
    }
    val dump = profile("dump", g10)
    shownOnce(dump)
    // the tap broadcast, the crop exchange and the ordering's range exchange
    assert("(?m)^---- execution 1: .*, 3 exchanges, .*".r.findFirstIn(dump).isDefined)
    shownOnce(profile("explain", g10))
    // over a Parquet grid, the crop's scan counts among the plan's scans
    val dir = java.nio.file.Files.createTempDirectory("grid").toString
    graft.sources.SyntheticGrid.df(spark).write.parquet(s"$dir/grid")
    val g = graft.model.GridDataset(spark.read.parquet(s"$dir/grid"),
      graft.sources.SyntheticGrid.meta).selectVariables(Seq("t2m"))
    val plan = withoutAqe(graft.operators.SpatialResample.bilinear(g, 2.0, 2.0).df
      .queryExecution.executedPlan)
    val walked = Profile.nodes(plan, scala.collection.mutable.ArrayBuffer.empty).map(_._2)
    assert(Profile.counts(walked).endsWith(", 2 exchanges, 1 scans"), Profile.counts(walked))
  }

  test("Profile request dumps one warm analyst-path request: 4 jobs, the crop exchange keyed by the bucket") {
    val buf = new ByteArrayOutputStream
    Profile.request(spark, new PrintStream(buf, true, "UTF-8"))
    val text = buf.toString("UTF-8")
    assert("(?m)^== request: 4 jobs, \\d+ stages run, \\d+ tasks run, \\d+ classes compiled ==$".r
      .findFirstIn(text).isDefined, text.take(2000))
    assert("(?m)^job +\\d+: stages=".r.findAllIn(text).size == 4)
    assert("(?m)^result: 5 table rows, 5 WES lines, sha256 of both [0-9a-f]{16}$".r
      .findFirstIn(text).isDefined)
    assert("(?m)^---- execution \\d+: ".r.findAllIn(text).size == 2)
    // the one shared crop, shown once, hash-partitioned on the bucket
    assert(text.split("---- shared sub-plan", -1).length == 2)
    assert(text.contains("hashpartitioning(_bucket"))
  }
}
