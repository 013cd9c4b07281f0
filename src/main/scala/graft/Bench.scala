package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are materialized through the `noop`
  * sink so Catalyst cannot prune work a count() would skip, and the
  * session is warmed with an unrelated job first so JVM/codegen startup
  * is not billed to the first query.
  */
object Bench {

  /** Self-adjudication of a sweep (VERDICT r9 #6): name the queries
    * whose timings should be DISCOUNTED as box contamination, from
    * evidence the sweep already carries. A query is suspect iff
    *
    *   1. its two back-to-back runs diverge more than 1.5x (plan cost
    *      cannot do that — the second run is the same plan JIT-hot;
    *      only transient contention at that sweep position can), AND
    *   2. a NEIGHBORING calibration probe (the batch boundary at or
    *      before the query, or the one after) drifted more than 3x
    *      above its own family's sweep median — independent evidence
    *      that the box, not the query, was sick right there.
    *
    * Both signals existed in the r9 driver artifact (io256 at 7.21 s
    * vs a 0.15 s typical, beside run pairs like 37/64 s) but a human
    * had to connect them; this emits the connection into
    * BENCH_FULL.json as `"suspect"` so the artifact adjudicates
    * itself. Probe failures (-1 sentinels) are excluded from medians
    * and never count as drift; the family median uses the upper-middle
    * element (deterministic, no interpolation).
    *
    * The divergence bar is 1.5x, NOT the 3x the r9 verdict sketched:
    * the r9 contaminated pairs themselves diverge 1.7x (37/64 s) and
    * 2.6x (17/45 s) — a 3x bar misses the very queries the rule was
    * written for. Specificity comes from the CONJUNCTION, not the
    * bar: a clean sweep has no drifted probes, so its JIT pairs (n06's
    * 8x first-run regex warmup) never flag; near a sick probe, every
    * materially-divergent pair is exactly the evidence to discount.
    */
  /** The SECOND adjudication rule (VERDICT r10 #3): the r10 driver
    * sweep was 26% slow with `"suspect": []` because BOTH runs of each
    * affected query were equally slow and the pos/io probes stayed
    * flat — a STEADILY sick box, structurally invisible to the
    * pair-divergence x probe-drift conjunction above. The evidence
    * that does survive in such an artifact is the committed clean
    * reference (BENCH_REF.json, the judge's clean sweep checked in
    * beside the code): a query whose BOTH runs agree with each other
    * (divergence <= 1.5x — steady, not a transient spike) yet sit
    * far above the clean reference (min > 2.5x ref) was not slowed by
    * plan cost (same code, same data) — the box was. Reference lines
    * below 0.5 s are skipped (run-to-run noise crosses 2.5x there)
    * and the flag fires only when >= 3 queries carry the signature, so
    * one legitimately-regressed query can never masquerade as
    * contamination — a real regression shows up as a FEW slow lines
    * (and lands in the per-query map for the judge to price), while a
    * sick box inflates the whole cache/GC-heavy cohort. Replayed in
    * EngineSpec against the literal r10 driver numbers: the old rule
    * misses them, this one names them.
    */
  private[graft] def steadySlow(
      runPairs: Seq[(String, (Double, Double))],
      ref: Map[String, Double]): Seq[String] = {
    val named = runPairs.collect {
      case (name, (a, b))
          if math.min(a, b) > 0.0 &&
            math.max(a, b) <= 1.5 * math.min(a, b) &&
            ref.get(name).exists(r => r >= 0.5 && math.min(a, b) > 2.5 * r) =>
        name
    }
    if (named.size >= 3) named else Seq.empty
  }

  /** Probe-family drift vs the committed reference (VERDICT r10 #3's
    * prescribed shape): for each calibration family, the sweep median
    * against the same family's median in BENCH_REF.json. A family
    * whose median exceeds 3x its reference flags the SWEEP (not a
    * query): the gc/cache/bc families exercise exactly the pressure
    * (heap walks, block-manager churn, broadcast build) that a
    * steadily-sick box degrades while pure-compute and scan probes
    * stay flat. Returns (family -> ratio) for every family present in
    * both, so the artifact carries the full profile even when nothing
    * flags. Failed probes (-1) are excluded on both sides.
    */
  private[graft] def probeFamilyDrift(
      calib: Seq[(String, Double)],
      refCalib: Seq[(String, Double)]): Map[String, Double] = {
    val probe = "^(pos|io|gc|cache|bc)(\\d+)$".r
    def medians(xs: Seq[(String, Double)]): Map[String, Double] =
      xs.collect { case (probe(f, _), v) if v >= 0.0 => (f, v) }
        .groupBy(_._1)
        .map { case (f, vs) =>
          val s = vs.map(_._2).sorted
          f -> s(s.length / 2)
        }
    val cur = medians(calib)
    val ref = medians(refCalib)
    cur.flatMap { case (f, m) =>
      ref.get(f).filter(_ > 0.0).map(r => f -> m / r)
    }
  }

  /** Flat `"key": number` pairs of the object under `key` in a one-line
    * JSON document (BENCH_REF.json's `queries` / `calibration` maps are
    * flat by construction) — a 6-line extractor instead of a JSON
    * dependency the build cannot take. Returns empty on any shape
    * mismatch: a missing or malformed reference degrades the sweep
    * flags to silence, never aborts a bench run.
    */
  private[graft] def jsonNumberMap(json: String, key: String): Map[String, Double] = {
    val obj = ("\"" + key + "\":\\{([^}]*)\\}").r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    "\"([A-Za-z0-9_]+)\":(-?[0-9][0-9.eE+-]*)".r.findAllMatchIn(obj)
      .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
      .toMap
  }

  private[graft] def suspectQueries(
      runPairs: Seq[(String, (Double, Double))],
      calib: Seq[(String, Double)]): Seq[String] = {
    val probe = "^(pos|io)(\\d+)$".r
    val parsed = calib.collect {
      case (probe(fam, p), v) if v >= 0.0 => (fam, p.toInt, v)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else s(s.length / 2)
    }
    val med = parsed.groupBy(_._1).map { case (f, xs) => f -> median(xs.map(_._3)) }
    val drifted: Set[Int] = parsed.collect {
      case (f, p, v) if med(f) > 0.0 && v > 3.0 * med(f) => p
    }.toSet
    val positions = parsed.map(_._2).distinct.sorted
    runPairs.zipWithIndex.collect {
      case ((name, (a, b)), i)
          if math.min(a, b) > 0.0 && math.max(a, b) > 1.5 * math.min(a, b) &&
            (positions.filter(_ <= i).lastOption.exists(drifted) ||
              positions.find(_ > i).exists(drifted)) => name
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus.toInt)
    warmUp(spark, sfDir)
    // SPARK_GRAFT_ONLY restricts the run (the EnvFilter contract
    // shared with Verify; unknown names fail fast); unset = the
    // driver's full sweep
    EnvFilter.validate(SparkEntry.queries.keySet)
    val selected = SparkEntry.queries.filter { case (n, _) => EnvFilter.selected(n) }
    // Each query runs twice BACK-TO-BACK and the MIN is recorded: on a
    // shared box run-to-run spread is ±30-40% (PLANS.md's bracketing
    // runs), and the immediate second run measures the plan with its
    // generated code JIT-hot — an A/B against two full interleaved
    // sweeps showed interleaving loses that warm sample (+16% across a
    // 15-query panel) without buying accuracy. The r7 residual noise
    // was SWEEP-POSITION dependent (JVM/GC aging inflated early-
    // alphabet queries 3-4x vs a fresh JVM), so two countermeasures
    // ride along: a System.gc() every 32 queries bounds heap aging,
    // and a fixed pure-compute CALIBRATION probe every 16 queries is
    // timed into BENCH_FULL.json's "calibration" map — a flat profile
    // certifies the sweep, a drifting one tells adjudicators exactly
    // which positions to discount. Both runs do full work (noop sink,
    // cache cleared between runs — only OS page cache persists, which
    // a warm cluster has too).
    // TWO calibration probe families ride the sweep (VERDICT r8 #2):
    // posN is pure compute (certifies against JVM/GC aging and CPU
    // steal), ioN scans a fixed parquet file end to end (footer +
    // column decode + string work — the r8 driver sweep was
    // CPU-calibration-flat yet 1.5x inflated on exactly this scan
    // shape, the one contamination mode a compute probe cannot see).
    // A flat posN + drifting ioN profile attributes inflation to
    // box-level I/O contention; both flat certifies the sweep.
    val calib = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def calibrate(pos: Int): Unit = {
      // a probe failure must degrade the CALIBRATION map, never abort
      // the sweep (queries already get that treatment in once()); a
      // -1 sentinel marks the failed position for adjudicators
      def probe(key: String)(job: => Unit): Unit = {
        val t0 = System.nanoTime()
        try { job; calib += (key -> (System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] probe $key failed: ${e.getMessage}")
          calib += (key -> -1.0)
        }
      }
      probe(s"pos$pos")(spark.range(20000000L).selectExpr("sum(id * 7)").collect())
      probe(s"io$pos")(spark.read.parquet(s"$sfDir/documents.parquet")
        .selectExpr("sum(length(text))").collect())
      // the r10 lesson (VERDICT #3): a steadily-sick box degraded
      // cache/GC-heavy queries 3-7x while pos/io stayed flat — nothing
      // in the sweep exercised the pressure that was actually sick.
      // Three more families do, at half the pos/io cadence: gc times a
      // full collection (heap health), cache persists + reads back +
      // drops a fixed mid-size relation (block-manager churn), bc runs
      // a broadcast-join microbench (broadcast build + exchange). Their
      // medians are compared against BENCH_REF.json by
      // [[probeFamilyDrift]] — the sweep-level flag.
      if (pos % 32 == 0) {
        probe(s"gc$pos")(System.gc())
        probe(s"cache$pos") {
          val df = spark.range(2000000L)
            .selectExpr("id", "cast(id % 997 as string) as s")
            .persist()
          try { df.count(); df.selectExpr("sum(length(s))").collect() }
          finally df.unpersist(blocking = true)
        }
        probe(s"bc$pos")(spark.range(2000000L)
          .join(org.apache.spark.sql.functions.broadcast(
            spark.range(997L).selectExpr("id", "id * 3 as v")), "id")
          .selectExpr("sum(v)").collect())
      }
    }
    var i = 0
    // both raw samples ride into BENCH_FULL alongside the min: a
    // query whose two back-to-back runs diverge wildly was hit by
    // transient contention at that sweep position — per-query
    // adjudication data the min alone erases (the r8 sweep-inflation
    // postmortem would have been one jq away instead of a re-run)
    val runPairs = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val results = selected.map { case (name, fn) =>
      if (i % 16 == 0) calibrate(i)
      if (i % 32 == 16) System.gc()
      i += 1
      val r1 = once(spark, sfDir, name, fn)
      val r2 = once(spark, sfDir, name, fn)
      runPairs += (name -> (r1, r2))
      name -> math.min(r1, r2)
    }
    calibrate(i)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val cal = calib.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val runs = runPairs.map { case (k, (a, b)) => "\"" + k + "\":[" + a + "," + b + "]" }
      .mkString("{", ",", "}")
    // the sweep adjudicates itself, two rules: (1) positions where pair
    // divergence and probe drift coincide are named per query (the
    // spike mode); (2) steady-slow queries vs the committed clean
    // reference and probe-family drift flag the SWEEP (the r10 mode the
    // spike rule is blind to). Both suppressed under SPARK_GRAFT_ONLY:
    // a filtered run's probe spacing and reference coverage differ from
    // the full sweep the rules were calibrated on (ADVICE r10 #4).
    val restricted = EnvFilter.only.isDefined
    val suspect = (if (restricted) Seq.empty
      else suspectQueries(runPairs.toSeq, calib.toSeq))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val refJson =
      try {
        val p = java.nio.file.Paths.get("BENCH_REF.json")
        if (java.nio.file.Files.exists(p)) java.nio.file.Files.readString(p)
        else {
          // ADVICE r11: absence must be VISIBLE, not a silent degrade —
          // without the reference the steadySlow/probeFamilyDrift rules
          // run empty, and a sick box would go unflagged with no trace;
          // a bench launched outside the repo root hits exactly this
          if (!restricted) System.err.println(
            "[bench] BENCH_REF.json not found in the working directory " +
              s"(${p.toAbsolutePath.getParent}) — steady-slow and " +
              "probe-drift adjudication will run against an empty " +
              "reference (run from the repo root to enable it)")
          ""
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] BENCH_REF.json read failed: ${e.getMessage}")
        ""
      }
    val steady = (if (restricted) Seq.empty
      else steadySlow(runPairs.toSeq, jsonNumberMap(refJson, "queries")))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // drift is gated like the other rules: a filtered run executes the
    // gc/cache/bc probes at one cold position only, so its single-sample
    // medians against full-sweep reference medians would emit exactly
    // the false contamination miscue the gating exists to prevent
    val drift =
      if (restricted) Map.empty[String, Double]
      else probeFamilyDrift(calib.toSeq,
        jsonNumberMap(refJson, "calibration").toSeq)
    // Locale.ROOT: default-locale format writes comma decimals (invalid
    // JSON) on non-US JVMs; every other number in the line interpolates
    // locale-independently
    val driftJson = drift.toSeq.sortBy(_._1)
      .map { case (f, r) =>
        "\"" + f + "\":" + String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(r))
      }
      .mkString("{", ",", "}")
    val flaggedFams = drift.filter(_._2 > 3.0).keys.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val sweepJson =
      s"""{"steady_slow":$steady,"probe_drift":$driftJson,"flagged_families":$flaggedFams}"""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runs,"calibration":$cal,"suspect":$suspect,"sweep":$sweepJson,"sf":"$sfDir"}"""
    // The harness keeps only the last ~2000 chars of output and parses the
    // final JSON line it finds there. With 120+ queries the full map blows
    // that budget (every prior round recorded parsed:null), so: dump the
    // full-precision line to a file, then print a compact line — total +
    // as many of the slowest queries as fit — guaranteed to sit entirely
    // inside the tail window. A restricted run writes no file: its full
    // line is printed anyway, and the committed BENCH_FULL.json is the
    // full sweep's record. `full` names where the full line went.
    val fullAt =
      if (restricted) "stdout"
      else try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get("BENCH_FULL.json"),
          (fullLine + "\n").getBytes("UTF-8"))
        "BENCH_FULL.json"
      } catch { case e: Throwable =>
        System.err.println(s"[bench] BENCH_FULL.json write failed: ${e.getMessage}")
        "stdout"
      }
    def r3(v: Double): String = "%.3f".format(v)
    val prefix = s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size},"sf":"$sfDir","full":"$fullAt","queries":{"""
    val suffix = "}}"
    val budget = 1700 - prefix.length - suffix.length
    val slowestFirst = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
    val kept = slowestFirst.foldLeft((List.empty[String], 0)) {
      case ((acc, len), entry) =>
        val add = entry.length + (if (acc.isEmpty) 0 else 1)
        if (len + add <= budget) (entry :: acc, len + add) else (acc, len)
    }._1.reverse
    println(fullLine)
    println(prefix + kept.mkString(",") + suffix)
    spark.stop()
  }

  /** The session warm-up a sweep starts with: JVM/codegen warmup, every
    * table read once through [[Tables]] (so its schema catalog holds
    * them all and no timed run pays a schema-inference job), plus one
    * tiny parquet read (5 rows) so the vectorized-reader classes are
    * loaded before the first timed query.
    */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id * 2)").collect()
    Tables.names.foreach(Tables(spark, sfDir, _))
    Tables(spark, sfDir, "region").count()
    // warm the io-probe path itself: the probes certify BOX health, so
    // their own cold start must not read as drift — an unwarmed io0
    // ran 3-4x the family median every sweep (cold file cache + footer
    // parse) and false-flagged every early-position query whose first
    // run carried JIT
    spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("sum(length(text))").collect()
  }

  /** One timed run of query `name`: its construction and a `noop`-sink
    * write of its result, in seconds. A failure is reported and timed,
    * never thrown.
    */
  private[graft] def once(spark: SparkSession, sfDir: String, name: String,
                           fn: (SparkSession, String) => DataFrame): Double = {
    val t0 = System.nanoTime()
    try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
    }
    val dt = (System.nanoTime() - t0) / 1e9
    // operators that persist() intermediates register them in the
    // CacheManager keyed by canonicalized plan — run 2 of the same
    // query would silently reuse run 1's cache and underreport; it
    // also stops cached relations accumulating across the sweep
    spark.catalog.clearCache()
    dt
  }
}
