package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalTableScanExec, RangeExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}

/** Plan-lint regression gate over EVERY SparkEntry query (VERDICT r7
  * top item): the per-round manual plan audits, turned into a spec
  * that fails the build if a future query ships a scale-killer plan.
  *
  * Lints, on the pre-AQE physical plan (planned subqueries included) of the
  * query each entry returns and of every SQL execution the entry runs
  * while building it (the iterative operators' round checkpoints and
  * probes):
  *   - `CartesianProductExec` — never acceptable outside the declared
  *     audit allowlist;
  *   - `BroadcastNestedLoopJoinExec` whose build side is NOT provably
  *     tiny — acceptable only when the broadcast side is a scalar
  *     (no-grouping) aggregate, a small limit, a literal local
  *     relation, or a small range (the "scalar crossJoin" pattern the
  *     repo uses for totals/bounds), or when the query is on the
  *     allowlist.
  *
  * The allowlist entries are the AUDIT-PRICED queries whose quadratic
  * or broadcast construction is their documented contract (see
  * PLANS.md "plan-lint allowlist"): exactness baselines and
  * recall-audit truth sides that exist to price the scale path, plus
  * guarded brute-force kernels whose inputs carry an explicit
  * `require(n <= cap)` instead of a plan-level bound.
  */
class PlanLintSpec extends SparkSpec {

  /** A BNLJ side that is provably metadata-sized: strip row-preserving
    * (or row-reducing) unary wrappers — project/filter/exchange/sort —
    * then demand the node itself bounds its output (scalar agg, small
    * literal relation, small limit, small range). Deliberately NOT a
    * subtree exists(): a corpus-sized join that merely CONTAINS a
    * scalar aggregate somewhere below (documents.crossJoin(total).join
    * ...) must not pass; any node that can multiply rows (join,
    * generate, union, grouped agg) stops the walk and fails the check.
    */
  private def tiny(p: SparkPlan): Boolean = p match {
    case w: org.apache.spark.sql.execution.ProjectExec => tiny(w.child)
    case w: org.apache.spark.sql.execution.FilterExec => tiny(w.child)
    case w: org.apache.spark.sql.execution.SortExec => tiny(w.child)
    case w: org.apache.spark.sql.execution.CoalesceExec => tiny(w.child)
    case w: org.apache.spark.sql.execution.exchange.Exchange => tiny(w.child)
    case w: org.apache.spark.sql.execution.LocalLimitExec => tiny(w.child)
    case w: org.apache.spark.sql.execution.window.WindowExec => tiny(w.child)
    case a: BaseAggregateExec =>
      a.groupingExpressions.isEmpty || tiny(a.child) // scalar agg: 1 row
    // a generate over a tiny child explodes ONE row's arrays — the
    // engine's axis-generation idiom (sequence over a scalar bounds
    // row, E4), bounded by the axis length, never by the corpus
    case g: org.apache.spark.sql.execution.GenerateExec => tiny(g.child)
    case u: org.apache.spark.sql.execution.UnionExec => u.children.forall(tiny)
    case l: LocalTableScanExec => l.rows.size <= 256 // literal relation
    case g: GlobalLimitExec => g.limit <= 256
    case t: TakeOrderedAndProjectExec => t.limit <= 256
    case r: RangeExec => r.numElements <= BigInt(256)
    case _ => false
  }

  /** `plan`'s nodes and those of its planned subqueries. A subquery a
    * pre-preparation plan still holds in logical form (a runtime
    * filter's bloom aggregate) is not walked.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children ++ p.expressions.flatMap(_.collect {
      case s: org.apache.spark.sql.execution.ExecSubqueryExpression => s.plan
    })).flatMap(nodes)

  private def violations(plan: SparkPlan): Seq[String] =
    nodes(plan).collect {
      case c: CartesianProductExec => Seq(s"CartesianProduct")
      case b: BroadcastNestedLoopJoinExec =>
        // a BNLJ is bounded when EITHER side is provably metadata-sized:
        // tiny build = the scalar-crossJoin pattern (totals/bounds
        // riding along a scan); tiny stream = a literal/range row probed
        // against a broadcast relation (the planted-row union branches)
        if (tiny(b.left) || tiny(b.right)) Seq.empty
        else Seq(s"BroadcastNestedLoopJoin(non-tiny both sides, ${b.joinType})")
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty =>
        // an empty-partition window moves ALL rows to one task — fine
        // as a final presentation over an already-bounded relation
        // (top-k/limit/scalar subtree), a corpus-killer anywhere else
        // (the "WindowExec: No Partition Defined" warnings the bench
        // log shows must all be of the bounded kind)
        if (tiny(w.child)) Seq.empty
        else Seq("GlobalWindow(non-tiny child)")
    }.flatten

  /** Audit-priced / guarded queries allowed to plan a non-tiny BNLJ
    * or cartesian construction — each with the in-code guard or
    * pricing convention that sanctions it (PLANS.md).
    */
  private val allow: Map[String, String] = Map(
    "n20_embedding_allpairs" ->
      "allPairsExact: O(n^2) exactness baseline, require(n <= 200k) guard",
    "n08_knn_bruteforce" ->
      "bruteForceTopK: exact baseline, require(queries <= maxQueries) guard",
    "n137_hard_negatives" ->
      ("hardNegatives: guarded brute-force scorer (same shape as n08); " +
        "positives/queries broadcast by declared contract"),
    "n45_int8_quantize" ->
      ("quantized-vs-exact cosine audit against ONE query vector (the " +
        "1-row filter is a parquet scan the plan cannot prove tiny)"),
    "n46_knn_int8" ->
      ("quantizedTopK shortlist scoring: query side filtered to 3 rows, " +
        "broadcast — the guarded brute-force query-side convention"),
    "n123_retrieval_metrics" ->
      "recall@k/MRR need the guarded bruteForceTopK truth ranking",
    "n147_rbo" ->
      ("RBO audits the SAME retriever pair as n123 (guarded " +
        "bruteForceTopK truth + int8TopK candidate, both query-side " +
        "bounded); the RBO fold itself is top-k-list-sized"),
    "n69_hybrid_rrf" ->
      "fusion's vector arm is the guarded bruteForceTopK truth retriever",
    "n117_matryoshka" ->
      ("prefixDimAudit: full-dim vs prefix-dim brute-force rankings, " +
        "nQueries-bounded query side"),
    "n140_margin_mining" ->
      ("marginMine: guarded brute-force cross-scoring (require(|A| <= " +
        "cap)) — the exactness baseline the ANN-shortlist mining path " +
        "degrades gracefully from"),
    "n54_semantic_contamination" ->
      ("contamination scan broadcasts the eval set by declaration " +
        "(benchmark-sized; an eval too big to broadcast is a near-dup " +
        "problem, per the operator scaladoc)"),
    // kMeans runs its rounds inside the call, so these two entries
    // price round plans the lint reads off the call's executions
    "n126_kmeans" ->
      ("kMeans assignment crossJoins the codes with broadcast(cents), the " +
        "k-row centroid table (the round state, k = 4 here); the build " +
        "side is a checkpoint scan the walk cannot prove tiny"),
    "n132_cluster_profile" ->
      ("clusterProfile runs kMeans (k = 4): the same k-row centroid " +
        "broadcast crossJoin as n126 in every round"),
    "n79_hll_overlap" ->
      ("register-algebra pairwise joins are sketch-sized by construction " +
        "(sources^2 x 2^p register rows, never corpus rows)"),
    // global-window (empty partitionSpec) entries: every one is a
    // window over a relation a grouped aggregation already reduced to
    // metadata size — a cardinality bound the static walk cannot see.
    // The corpus-sized input is consumed by the agg
    // BELOW the window in each of these plans.
    "g48_spatial_sum_acf" ->
      ("ACF lag windows run over the per-timestep domain-total series " +
        "(time-axis-bounded groupBy(time) agg), not grid cells"),
    "n120_good_turing" ->
      ("Good-Turing lead window over the count-of-counts relation " +
        "(<= maxR rows after the frequency-of-frequencies agg)"),
    "n121_ks_drift" ->
      ("KS cumulative window over DISTINCT values of the drift column " +
        "(grouped agg below the window), not corpus rows"),
    "n43_hist_quantiles" ->
      ("quantile-bracket windows over the bins-bounded histogram " +
        "relation (64 bins), exact-audit side included"),
    "n59_budget_select" ->
      ("greedy-prefix window over the score-histogram level relation " +
        "(histogram-threshold decomposition — the operator exists to " +
        "avoid the corpus-wide ORDER BY)"),
    "n170_card_render" ->
      ("cardFromState's cumulative bin window runs over the card state's " +
        "tok_bin rows, at most `bins` (256) after the state's groupBy"),
    "q53_skyline" ->
      ("running max over the distinct-price LEVEL relation; the " +
        "Skyline scaladoc documents the range-partitioned two-phase " +
        "fallback if levels ever outgrow one task"))

  test("no scale-killer plans outside the documented audit allowlist") {
    val bad = scala.collection.mutable.ListBuffer.empty[String]
    val stale = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val vs =
        try {
          val (df, rec) = graft.tools.Profile.record(spark)(fn(spark, sf))
          (violations(df.queryExecution.sparkPlan) ++ rec.executions.flatMap(e =>
            violations(e.qe.sparkPlan).map(v => s"$v in ${e.action}"))).distinct
        } catch { case e: Throwable =>
          bad += s"$name: failed to plan: ${e.getMessage}"; Seq.empty
        }
      if (vs.nonEmpty && !allow.contains(name))
        bad += s"$name: ${vs.mkString(", ")}"
      if (vs.isEmpty && allow.contains(name)) stale += name
    }
    assert(bad.isEmpty,
      s"\nscale-killer plans detected (extend the PLANS.md allowlist ONLY " +
      s"for documented audit pricing):\n  ${bad.mkString("\n  ")}")
    assert(stale.isEmpty,
      s"allowlist entries no longer needed (query plans clean now — " +
      s"remove them): ${stale.mkString(", ")}")
  }

  test("streaming surfaces: one-micro-batch executed plans are scale-clean with exactly the declared state stores") {
    import java.sql.Timestamp
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.graft.StreamingIntrospect
    import graft.streaming.EventStreams
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    val prevNoData = spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val plans = scala.collection.mutable.LinkedHashMap.empty[String, SparkPlan]
      def drive(name: String, out: org.apache.spark.sql.Dataset[_],
                feed: () => Unit): Unit = {
        val q = out.writeStream.format("memory").queryName(s"lint_$name")
          .outputMode("append").start()
        try {
          feed(); q.processAllAvailable()
          plans += name -> StreamingIntrospect.lastExecutedPlan(q)
        } finally q.stop()
      }
      val ts = Timestamp.valueOf("2024-01-01 00:05:00")
      val ts2 = Timestamp.valueOf("2024-01-01 00:06:00")
      locally {
        val m = MemoryStream[(Timestamp, Long, String, Double)]
        drive("dedup_watermark", EventStreams.streamingDedup(
          m.toDF().toDF("ts", "user_id", "event_type", "value"),
          Seq("user_id", "event_type")),
          () => m.addData((ts, 1L, "click", 1.0)))
      }
      locally {
        val m = MemoryStream[(Timestamp, Long, String, Double)]
        drive("tumbling", EventStreams.tumblingCounts(
          m.toDF().toDF("ts", "user_id", "event_type", "value"), "1 hour"),
          () => m.addData((ts, 1L, "click", 1.0)))
      }
      locally {
        val m = MemoryStream[(Timestamp, Long, String, Double)]
        drive("sliding", EventStreams.slidingCounts(
          m.toDF().toDF("ts", "user_id", "event_type", "value")),
          () => m.addData((ts, 1L, "click", 1.0)))
      }
      locally {
        val m = MemoryStream[(Timestamp, Long, String, Double)]
        drive("session_counts", EventStreams.sessionCounts(
          m.toDF().toDF("ts", "user_id", "event_type", "value")),
          () => m.addData((ts, 1L, "click", 1.0)))
      }
      locally {
        val m = MemoryStream[(Long, Timestamp, Long, String)]
        drive("ss_join", EventStreams.clicksBeforePurchases(
          m.toDF().toDF("event_id", "ts", "user_id", "event_type")),
          () => m.addData((1L, ts, 7L, "click"), (2L, ts2, 7L, "purchase")))
      }
      locally {
        val m = MemoryStream[(Long, Timestamp, Long, String)]
        drive("ss_left_join", EventStreams.purchasesWithOptionalClick(
          m.toDF().toDF("event_id", "ts", "user_id", "event_type")),
          () => m.addData((1L, ts, 7L, "click"), (2L, ts2, 7L, "purchase")))
      }
      locally {
        val m = MemoryStream[EventStreams.Event]
        drive("sessionize_fmgws",
          EventStreams.sessionize(m.toDS(), gapMs = 60000L),
          () => m.addData(EventStreams.Event(ts, 1L, "click", 1.0)))
      }
      locally {
        val m = MemoryStream[EventStreams.Ev]
        drive("sessionize_timers", EventStreams.sessionizeWithTimers(
          m.toDS(), java.time.Duration.ofMinutes(5)),
          () => m.addData(EventStreams.Ev(ts, 1L, "click", 1.0)))
      }
      locally {
        val m = MemoryStream[EventStreams.Ev]
        drive("dedup_ttl", EventStreams.dedupWithTtl(
          m.toDS(), java.time.Duration.ofMinutes(5)),
          () => m.addData(EventStreams.Ev(ts, 1L, "click", 1.0)))
      }
      locally {
        val m = MemoryStream[(Timestamp, Long, String)]
        drive("minhash_yield", EventStreams.streamingMinhashYield(
          m.toDS().map(t => EventStreams.Doc(t._1, t._2, t._3)),
          k = 3, numHashes = 64, bands = 32),
          () => m.addData((ts, 1L, "alpha beta gamma delta epsilon")))
      }
      locally {
        val m = MemoryStream[(Timestamp, Long, Array[Float])]
        drive("embedding_yield", EventStreams.streamingEmbeddingYield(
          m.toDS().map(t => EventStreams.Vec(t._1, t._2, t._3))),
          () => m.addData((ts, 1L, Array.tabulate(16)(i => 0.1f * (i + 1)))))
      }
      locally {
        val m = MemoryStream[(Timestamp, Long, String)]
        val td = MemoryStream[(Timestamp, Long, String)]
        drive("minhash_yield_takedown", EventStreams.streamingMinhashYield(
          m.toDS().map(t => EventStreams.Doc(t._1, t._2, t._3)),
          k = 3, numHashes = 64, bands = 32,
          takedowns = Some(td.toDS()
            .map(t => EventStreams.Doc(t._1, t._2, t._3)))),
          () => {
            m.addData((ts, 1L, "alpha beta gamma delta epsilon"))
            td.addData((ts2, 9L, "zeta eta theta iota kappa"))
          })
      }
      locally {
        val m = MemoryStream[(Timestamp, Long, String)]
        drive("yield_counts", EventStreams.streamingYieldCounts(
          EventStreams.streamingMinhashYield(
            m.toDS().map(t => EventStreams.Doc(t._1, t._2, t._3)),
            k = 3, numHashes = 64, bands = 32),
          window_ = "1 hour", watermark = "1 second"),
          () => m.addData((ts, 1L, "alpha beta gamma delta epsilon")))
      }
      locally {
        val m = MemoryStream[(Timestamp, Long, String, String)]
        drive("card_counts", EventStreams.streamingCardCounts(
          m.toDS().map(t => EventStreams.CardDoc(t._1, t._2, t._3, t._4)),
          window_ = "1 hour", watermark = "1 second"),
          () => m.addData((ts, 1L, "en", "alpha beta gamma")))
      }
      locally {
        val m = MemoryStream[(Timestamp, Long, String)]
        val td = MemoryStream[(Timestamp, Long, String)]
        drive("exact_dedup_takedown", EventStreams.streamingExactDedup(
          m.toDS().map(t => EventStreams.Doc(t._1, t._2, t._3)),
          takedowns = Some(td.toDS()
            .map(t => EventStreams.Doc(t._1, t._2, t._3)))),
          () => {
            m.addData((ts, 1L, "alpha beta gamma"))
            td.addData((ts2, 9L, "zeta eta theta"))
          })
      }
      locally {
        val m = MemoryStream[EventStreams.GroupItem]
        drive("heavy_hitters", EventStreams.streamingHeavyHitters(m.toDS(), k = 3),
          () => m.addData(EventStreams.GroupItem("g", "x")))
      }
      locally {
        val m = MemoryStream[EventStreams.GroupValue]
        drive("quantiles", EventStreams.streamingQuantiles(
          m.toDS(), lo = 0L, hi = 100L),
          () => m.addData(EventStreams.GroupValue("g", 5L)))
      }
      locally {
        val m = MemoryStream[(Timestamp, Long, String, Double)]
        val dim = Seq((1L, "gold")).toDF("user_id", "tier")
        drive("enrich", EventStreams.enrich(
          m.toDF().toDF("ts", "user_id", "event_type", "value"), dim, "user_id"),
          () => m.addData((ts, 1L, "click", 1.0)))
      }
      // (a) the batch lint's scale-killer walk, applied to the EXECUTED
      // micro-batch plans (VERDICT r10 #8: the original 14 surfaces
      // shipped unlinted; r12 adds the takedown-enabled yield, the
      // windowed yield counts, and the card ledger; r13 the takedown-
      // aware exact dedup — 18 surfaces)
      val bad = plans.toSeq.flatMap { case (n, p) =>
        // walk the outer tree AND every adaptive sub-plan: stateless
        // micro-batch segments run under AQE, whose final plans a
        // plain collect() never reaches
        StreamingIntrospect.allPlanTrees(p)
          .flatMap(violations).map(v => s"$n: $v")
      }
      assert(bad.isEmpty,
        s"streaming scale-killer plans:\n  ${bad.mkString("\n  ")}")
      // (b) state discipline: each surface grows EXACTLY its declared
      // state stores — an accidental extra stateful operator (an
      // unwatermarked agg, a plain stream join) is unbounded state at
      // 100 TB and fails here. TimeMode.ProcessingTime stores are
      // TTL'd inside their processors (pinned by the EventStreamsSpec
      // state laws); HistQuantileProcessor's TTLConfig.NONE is the
      // documented exception — bins+3 longs per GROUP, bounded by
      // group cardinality, never per-value.
      val declared: Map[String, Seq[String]] = Map(
        "dedup_watermark" -> Seq("StreamingDeduplicateWithinWatermarkExec"),
        "tumbling" -> Seq("StateStoreSaveExec"),
        "sliding" -> Seq("StateStoreSaveExec"),
        "session_counts" -> Seq("SessionWindowStateStoreSaveExec"),
        "ss_join" -> Seq("StreamingSymmetricHashJoinExec"),
        "ss_left_join" -> Seq("StreamingSymmetricHashJoinExec"),
        "sessionize_fmgws" -> Seq("FlatMapGroupsWithStateExec"),
        "sessionize_timers" -> Seq("TransformWithStateExec"),
        "dedup_ttl" -> Seq("TransformWithStateExec"),
        "minhash_yield" -> Seq("TransformWithStateExec", "TransformWithStateExec"),
        "minhash_yield_takedown" -> Seq("TransformWithStateExec", "TransformWithStateExec"),
        "yield_counts" -> Seq("TransformWithStateExec", "TransformWithStateExec", "StateStoreSaveExec"),
        "card_counts" -> Seq("StateStoreSaveExec"),
        "embedding_yield" -> Seq("TransformWithStateExec", "TransformWithStateExec"),
        "exact_dedup_takedown" -> Seq("TransformWithStateExec"),
        "heavy_hitters" -> Seq("TransformWithStateExec"),
        "quantiles" -> Seq("TransformWithStateExec"),
        "enrich" -> Seq.empty)
      assert(plans.keySet == declared.keySet, "every declared surface driven")
      plans.foreach { case (n, p) =>
        val got = StreamingIntrospect.statefulStoreNames(p)
        assert(got.sorted == declared(n).sorted,
          s"$n state stores drifted from the declaration: got $got")
      }
      // (c) watermark-bounded stores carry their watermark node into
      // the executed plan — the bound that reaps their state
      Seq("dedup_watermark", "tumbling", "sliding", "session_counts",
        "ss_join", "ss_left_join", "sessionize_fmgws", "sessionize_timers",
        "yield_counts", "card_counts")
        .foreach { n =>
          assert(StreamingIntrospect.hasWatermarkNode(plans(n)),
            s"$n must carry its watermark into the executed plan")
        }
      // (d) stream-static enrich joins by BROADCAST: a per-batch hash
      // probe, never a stateful shuffle join
      assert(StreamingIntrospect.allPlanTrees(plans("enrich")).exists(
        _.collectFirst {
          case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
        }.isDefined), "enrich must broadcast the dimension side")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevNoData match {
        case Some(p) => spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", p)
        case None => spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
  }

  test("the lint itself catches a corpus-sized global window (negative control)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // a window with no partition over a raw table scan — the exact
    // shape the GlobalWindow lint exists to reject
    val bad = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
    assert(violations(bad.queryExecution.sparkPlan)
      .exists(_.startsWith("GlobalWindow")),
      "corpus-sized global window not flagged")
    // and the bounded presentation idiom stays clean: the same window
    // above a small limit
    val ok = spark.read.parquet(s"$sf/documents.parquet").limit(25)
      .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
    assert(violations(ok.queryExecution.sparkPlan).isEmpty,
      "limit-bounded global window wrongly flagged")
  }
}
