package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions._

import graft.ops._

class OpsSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "web", 43L),
      (2L, "the quick brown fox jumps over the lazy dog", "en", "web", 43L),   // exact dup of 1
      (3L, "the quick brown fox jumped over the lazy dog", "en", "web", 44L),  // near dup
      (4L, "der schnelle braune fuchs springt und ist nicht faul", "de", "web", 52L),
      (5L, "completely different content about spark engines", "en", "web", 48L),
      (6L, "", "en", "web", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("exact dedup keeps the lowest doc_id per distinct text") {
    val kept = Dedup.exactDedup(docs).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L, 6L))
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("keep_id") == 1L
      && groups(0).getAs[Long]("n_copies") == 2L)
  }

  test("dedupKeepBest keeps the top-scored member per cluster, ties to lowest id") {
    import spark.implicits._
    val d = Seq(
      (1L, "one two"), (2L, "one two three four"), (3L, "one"),  // cluster 1
      (4L, "standalone document"),                               // unclustered
      (5L, "a b c"), (6L, "x y z")                               // cluster 5: tie on 3 tokens
    ).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    val kept = Dedup.dedupKeepBest(d, clusters, TextAnalysis.tokenCount(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // cluster 1 -> doc 2 (4 tokens); cluster 5 -> doc 5 (tie, lowest id);
    // doc 4 passes through unclustered
    assert(kept.toSeq == Seq(2L, 4L, 5L))
  }

  test("corpus snapshot round-trips and feeds incremental dedup without text rescan") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = Files.createTempDirectory("snapshot").toString
    val existing = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val incoming = Seq((10L, "beta"), (11L, "delta"), (12L, "delta")).toDF("doc_id", "text")
    Dedup.writeCorpusSnapshot(existing, dir)
    val (docsBack, digests) = Dedup.readCorpusSnapshot(spark, dir)
    assert(docsBack.count() == 3 && digests.count() == 3)
    val viaSnapshot = Dedup.incrementalDedupByDigests(digests, incoming)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaBatch = Dedup.incrementalDedup(existing, incoming)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // cross-corpus dup (beta) dropped, within-slice dup keeps the
    // lowest id — identical through the stored digest relation
    assert(viaSnapshot == viaBatch && viaSnapshot == Set(11L))
  }

  test("sliceDiffReport counts partition the slice; n_new matches incremental dedup") {
    import spark.implicits._
    val existing = Seq((2L, "alpha", "a"), (4L, "beta", "b")).toDF("doc_id", "text", "source")
    val incoming = Seq(
      (11L, "alpha", "a"),     // cross-corpus dup
      (13L, "fresh one", "a"),
      (15L, "fresh two", "b"),
      (17L, "fresh two", "b"), // within-slice dup of 15
      (19L, "beta", "b")       // cross-corpus dup
    ).toDF("doc_id", "text", "source")
    val rep = Dedup.sliceDiffReport(existing, incoming).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rep("a") == ((2L, 0L, 1L, 1L)))
    assert(rep("b") == ((3L, 1L, 1L, 1L)))
    rep.values.foreach { case (inc, wd, cd, nw) => assert(inc == wd + cd + nw) }
    val survivors = Dedup.incrementalDedup(existing, incoming)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep.map { case (s, t) => s -> t._4 } == survivors)
    // the production path through the published digest relation is
    // the same report — the corpus text never enters
    val viaDigests = Dedup.sliceDiffReportByDigests(
        existing.select(md5(col("text")).as("__digest")), incoming).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(viaDigests == rep)
  }

  test("RANGE window frame counts value-based trailing peers exactly") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // one customer ordering on days 0, 3, 6, 7, 7, 20: the 7-day RANGE
    // frame is value-keyed (not row-keyed), so both day-7 peers see
    // each other and day 20 sees only itself
    val d = Seq((1L, 0), (2L, 3), (3L, 6), (4L, 7), (5L, 7), (6L, 20))
      .toDF("k", "d").withColumn("c", lit(1L))
    val w = Window.partitionBy("c").orderBy(col("d")).rangeBetween(-6, 0)
    val got = d.withColumn("n", count(lit(1)).over(w))
      .select("k", "n").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 4L, 6L -> 1L))
  }

  test("shuffleOrder: data-keyed permutation, dense per-shard positions, layout-invariant") {
    import spark.implicits._
    val ids = (0L until 100L).toDF("doc_id")
    val out = Sampling.shuffleOrder(ids, shards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // a permutation: every id exactly once
    assert(out.length == 100 && out.map(_._1).toSet == (0L until 100L).toSet)
    // positions are dense 1..n inside every shard
    out.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq, s"shard $sh")
    }
    // the deal actually mixes: at least one shard's id-by-position
    // sequence is not ascending (a broken hash would degrade to
    // insertion order)
    assert(out.groupBy(_._2).values.exists { rows =>
      val byPos = rows.sortBy(_._3).map(_._1).toSeq
      byPos != byPos.sorted
    })
    // layout-invariance: the same permutation comes off a repartitioned
    // input — the order is a function of the data, not the partitioning
    val again = Sampling.shuffleOrder(ids.repartition(13), shards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSet == out.toSet)
    // non-power-of-two shards would break the unsigned-modulus
    // agreement contract and must be rejected
    intercept[IllegalArgumentException](Sampling.shuffleOrder(ids, shards = 3))
  }

  test("hashSplit covers all labels at plausible rates; splitLeakage equals brute force") {
    import spark.implicits._
    val split = Sampling.hashSplit(col("doc_id"),
      Seq("train" -> 0.5, "valid" -> 0.25, "test" -> 0.25))
    // rates over 1000 ids: binomial(1000, 0.5) is within [400, 600]
    // except with probability < 1e-9
    val counts = (0L until 1000L).toDF("doc_id").select(split.as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "valid", "test"))
    assert(counts("train") > 400L && counts("train") < 600L)
    // leakage algebra vs brute-force pair enumeration on a dup-heavy
    // corpus: texts with multiplicities 3, 2, 1
    val d = Seq((0L, "a"), (1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
      .toDF("doc_id", "text")
    val assigned = d.select(col("doc_id"), col("text"), split.as("sp")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val brute = scala.collection.mutable.Map.empty[(String, String), Long]
    for (i <- 0L to 5L; j <- (i + 1) to 5L if assigned(i)._1 == assigned(j)._1) {
      val (x, y) = (assigned(i)._2, assigned(j)._2)
      val key = if (x <= y) (x, y) else (y, x)
      brute(key) = brute.getOrElse(key, 0L) + 1L
    }
    val got = Sampling.splitLeakage(d, split).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == brute.toMap)
    // fractions must sum to 1
    intercept[IllegalArgumentException](
      Sampling.hashSplit(col("doc_id"), Seq("a" -> 0.5, "b" -> 0.1)))
  }

  test("bm25Search: formula replay, tf/idf ordering, top-k plan") {
    import spark.implicits._
    // corpus engineered so the interesting comparisons are forced:
    // docs 1/2 share length; 1 has the query term twice (higher tf
    // wins); 'rare' appears in one doc, 'common' in three (idf orders
    // them); doc 4 is longer, so its tf=1 scores under doc 2's tf=1
    val corpus = Seq(
      (1L, "rare rare pad1 pad2"),
      (2L, "rare padA padB padC"),
      (3L, "common x1 x2 x3"),
      (4L, "common y1 y2 y3 y4 y5 y6 y7"),
      (5L, "common z1 z2 z3")
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "rare"), (2L, "common"), (3L, "rare common"), (4L, "absent"))
      .toDF("query_id", "qtext")
    // plan-shape lint on the plan the search's checkpoint executes: the
    // returned relation is checkpointed (no cache leak — the r13 ADVICE
    // closure), which truncates its own plan to a Scan ExistingRDD, so
    // the shape is read off the checkpoint's query execution
    val (res, rec) = graft.tools.Profile.record(spark)(
      TextAnalysis.bm25Search(corpus, qs, k = 2))
    val checkpoints = rec.executions.filter(_.action.toLowerCase.contains("checkpoint"))
    assert(checkpoints.nonEmpty, rec.executions.map(_.action))
    val plan = checkpoints.map(_.qe.executedPlan.toString).mkString("\n")
    assert(plan.contains("WindowGroupLimit"))
    // the postings probe is a broadcast left-semi on the query terms —
    // the term filter must run BEFORE any corpus aggregation
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"))
    val rows = res.collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> ((r.getLong(1), r.getLong(3), r.getDouble(4))))
      .toMap
    // query 1: doc 1 (tf=2) above doc 2 (tf=1), k=2 caps the list
    assert(rows((1L, 1L))._1 == 1L && rows((1L, 2L))._1 == 2L)
    // query 4 matches nothing and is absent entirely
    assert(!rows.keySet.exists { case (q, _) => q == 4L })
    // driver-side replay of the exact formula for (query 1, doc 1):
    // N=5, avgdl=24/5, df(rare)=2, tf=2, dl=4
    val n = 5.0; val avgdl = 24.0 / 5
    val idf = math.log((n - 2 + 0.5) / (2 + 0.5) + 1.0)
    val s11 = idf * ((2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * (4 / avgdl))))
    assert(rows((1L, 1L))._3 == math.rint(s11 * 1e6) / 1e6 ||
      math.abs(rows((1L, 1L))._3 - s11) < 1e-6)
    // rarer term outscores the common one at equal tf and dl: query 3
    // ranks doc 1 (rare, tf=2) first, and among tf=1 docs the shorter
    // ones win — doc 4 (dl=8) is NOT in query 2's top-2
    assert(rows((3L, 1L))._1 == 1L)
    assert(!rows.contains((2L, 4L)) || rows((2L, 4L))._1 > 2L)
    // n_terms counts matched distinct terms
    assert(rows((3L, 1L))._2 == 1L) // doc 1 has only 'rare'
  }

  test("bm25AgainstIndex: maintained postings equal from-text search; lifecycle laws") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "rare rare pad1 pad2"),
      (2L, "rare padA padB padC"),
      (3L, "common x1 x2 x3"),
      (4L, "common y1 y2 y3 y4 y5 y6 y7"),
      (5L, "common z1 z2 z3")
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "rare"), (2L, "common"), (3L, "rare common"), (4L, "absent"))
      .toDF("query_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(t => (t._1, t._3)).toSeq
    // the headline law: index search == from-text search bit-for-bit
    // (the scoring tail is shared code; this pins the feeding relations)
    val postings = TextAnalysis.retrievalPostings(corpus)
    val docStats = TextAnalysis.retrievalDocStats(postings)
    assert(rows(TextAnalysis.bm25AgainstIndex(postings, docStats, qs, k = 2)) ==
      rows(TextAnalysis.bm25Search(corpus, qs, k = 2)))
    // append law: per-doc rows make slice postings a plain union
    val old = corpus.filter($"doc_id" <= 3L)
    val slice = corpus.filter($"doc_id" > 3L)
    val appended = TextAnalysis.retrievalPostings(old)
      .unionByName(TextAnalysis.retrievalPostings(slice))
    assert(appended.exceptAll(postings).isEmpty &&
      postings.exceptAll(appended).isEmpty,
      "appended postings must equal the from-scratch build")
    // retraction law: the doc-keyed anti-join equals the rebuild on
    // survivors, and search over the retracted state equals from-text
    // search over the surviving corpus — a purged doc is not
    // text-retrievable (doc 1 held 'rare' twice; after its takedown
    // query 1's top hit must be doc 2)
    val removed = Seq(1L).toDF("doc_id")
    val retracted = Dedup.retractFromIndex(postings, removed)
      .select("term", "doc_id", "tf") // the anti-join fronts its key
    val survivors = corpus.filter($"doc_id" =!= 1L)
    val rebuilt = TextAnalysis.retrievalPostings(survivors)
    assert(retracted.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(retracted).isEmpty)
    val afterSearch = rows(TextAnalysis.bm25AgainstIndex(retracted,
      TextAnalysis.retrievalDocStats(retracted), qs, k = 2))
    assert(afterSearch == rows(TextAnalysis.bm25Search(survivors, qs, k = 2)))
    assert(!afterSearch.exists(_._2 == 1L), "purged doc must not be retrievable")
    assert(afterSearch.exists(t => t._1 == 1L && t._2 == 2L && t._3 == 1L),
      "the surviving rare-holder takes rank 1")
  }

  test("multiPhraseSearchAgainstIndex: index probe equals from-text sweep; purge drops a doc's quotes") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta filler alpha beta gamma delta"),
      (2L, "unrelated words only here"),
      (3L, "prefix alpha beta gamma delta suffix"),
      (4L, "alpha beta end")
    ).toDF("doc_id", "text")
    val phrases = Seq(
      "p4" -> Seq("alpha", "beta", "gamma", "delta"),
      "p2" -> Seq("alpha", "beta"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    val postings = TextAnalysis.positionalPostings(corpus)
    // the headline law: index probe == from-text sweep row-for-row
    // (shared alignment tail; this pins the feeding relation)
    val viaIndex = rows(TextAnalysis.multiPhraseSearchAgainstIndex(postings, phrases))
    assert(viaIndex == rows(TextAnalysis.multiPhraseSearch(corpus, phrases)))
    // intra-doc repeats and 1-based starts: doc 1 matches p4 at 1 and 6
    assert(viaIndex.filter(t => t._1 == "p4" && t._2 == 1L).map(_._3) == Seq(1L, 6L))
    // retraction: the purged doc's quotes stop matching; survivors'
    // matches are untouched (== from-text sweep over survivors)
    val retracted = Dedup.retractFromIndex(postings, Seq(1L).toDF("doc_id"))
      .select("word", "doc_id", "pos")
    val after = rows(TextAnalysis.multiPhraseSearchAgainstIndex(retracted, phrases))
    assert(after == rows(TextAnalysis.multiPhraseSearch(
      corpus.filter($"doc_id" =!= 1L), phrases)))
    assert(!after.exists(_._2 == 1L), "purged doc's quotes must not match")
    assert(after.exists(t => t._1 == "p4" && t._2 == 3L && t._3 == 2L))
    // append law: per-doc rows make slice postings a plain union
    val appended = TextAnalysis.positionalPostings(corpus.filter($"doc_id" <= 2L))
      .unionByName(TextAnalysis.positionalPostings(corpus.filter($"doc_id" > 2L)))
    assert(appended.exceptAll(postings).isEmpty && postings.exceptAll(appended).isEmpty)
  }

  test("dsirWeights: content-determined weight, target separation, exact replay") {
    import spark.implicits._
    val d = Seq(
      (1L, "ab", true), (2L, "cd", false), (3L, "ab", false)
    ).toDF("doc_id", "text", "tgt")
    val got = TextAnalysis.dsirWeights(d, col("tgt"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // counts: 'ab' cnt_r=2 cnt_t=1; 'cd' cnt_r=1 cnt_t=0;
    // tot_r=3 tot_t=1 vocab=2
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val const = math.log(1.0 + 2) - math.log(3.0 + 2)
    val w1 = r6((math.log(2.0) - math.log(3.0)) - 1 * const)
    val w2 = r6((math.log(1.0) - math.log(2.0)) - 1 * const)
    assert(got(1L) == ((1L, w1)) && got(2L) == ((1L, w2)))
    // the weight is a function of CONTENT only — doc 3 (same text as
    // doc 1, not in the target) gets the identical weight
    assert(got(3L) == got(1L))
    // target-looking content weighs more than non-target content
    assert(got(1L)._2 > got(2L)._2)
  }

  test("dataCard: every section hand-checked on the known corpus") {
    val card = Profile.dataCard(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(card(("corpus", "n_docs")) == 6.0)
    // token counts: 9+9+9+9+6+0
    assert(card(("corpus", "n_tokens")) == 42.0)
    assert(card(("lang", "en")) == 5.0 && card(("lang", "de")) == 1.0)
    // docs 1 and 2 are exact copies -> 2 docs sit in dup groups
    assert(card(("dup", "n_dup_docs")) == 2.0)
    // median of [0, 6, 9, 9, 9, 9]
    assert(card(("quality", "p50_tokens")) == 9.0)
    // 2 corpus + 2 lang + 1 dup + 1 quality
    assert(card.size == 6)
  }

  test("scaleFeatures: closed-form moments, degenerate-group nulls, partition invariance") {
    import spark.implicits._
    val d = Seq(("A", 1L, 1), ("A", 3L, 2), ("B", 5L, 3), ("B", 5L, 4))
      .toDF("g", "v", "id")
    // group A: mean 2, var (2*10-16)/4 = 1 -> z = ±1, mm = 0/1;
    // group B: zero variance and zero range -> both null
    val got = Profile.scaleFeatures(d, "v", "g").collect()
      .map(r => r.getAs[Int]("id") ->
        ((Option(r.getAs[java.lang.Double]("z")), Option(r.getAs[java.lang.Double]("mm")))))
      .toMap
    assert(got(1) == ((Some(-1.0), Some(0.0))))
    assert(got(2) == ((Some(1.0), Some(1.0))))
    assert(got(3) == ((None, None)) && got(4) == ((None, None)))
    // moments are integer closed forms — a different partitioning
    // produces bit-identical results
    val again = Profile.scaleFeatures(d.repartition(7), "v", "g").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[java.lang.Double]("z"), r.getAs[java.lang.Double]("mm"))).toSet
    val first = Profile.scaleFeatures(d, "v", "g").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[java.lang.Double]("z"), r.getAs[java.lang.Double]("mm"))).toSet
    assert(again == first)
  }

  test("bpeTrain: hand-traced merges, greedy left-to-right re-segmentation, exhaustion") {
    import spark.implicits._
    // corpus: 'ab' x3 + 'abc' x1. pair counts: (a,b)=4, (b,c)=1 ->
    // merge 1 = (a,b,4); then 'ab'=[ab], 'abc'=[ab,c] -> merge 2 =
    // (ab,c,1); afterwards no pairs remain anywhere
    val d = Seq("ab ab ab abc").toDF("text")
    val (merges, seg) = TextAnalysis.bpeTrain(d, numMerges = 5)
    assert(merges == Seq(("a", "b", 4L), ("ab", "c", 1L)))
    val bySeg = seg.collect().map(r =>
      r.getString(0) -> r.getSeq[String](2).toList).toMap
    assert(bySeg == Map("ab" -> List("ab"), "abc" -> List("abc")))
    // greedy non-overlap: merging (a,a) over 'aaa' gives [aa, a], so
    // the next merge is (aa, a) — the canonical BPE trace
    val d2 = Seq("aaa aaa").toDF("text")
    val (m2, seg2) = TextAnalysis.bpeTrain(d2, numMerges = 2)
    assert(m2 == Seq(("a", "a", 4L), ("aa", "a", 2L)))
    assert(seg2.collect().map(_.getSeq[String](2).toList).toSeq == Seq(List("aaa")))
  }

  test("rrfFuse: both-systems doc outranks one-system docs, exact arithmetic, k cap") {
    import spark.implicits._
    // query 1: doc 10 is rank 1 in BOTH systems; doc 11 text-only rank
    // 2; doc 12 vector-only rank 2; doc 13 text-only rank 3
    val text = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 13L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val vec = Seq((1L, 10L, 1L), (1L, 12L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val got = Similarity.rrfFuse(text, vec, k = 3).collect()
      .map(r => r.getLong(5) -> ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))))
      .toMap
    // doc 10: 1/61 + 1/61; docs 11 and 12: 1/62 each — the tie breaks
    // to the lower doc_id; doc 13 (1/63) is cut by k=3
    assert(got(1L)._1 == 10L && got(1L)._2 == 1.0 / 61 + 1.0 / 61)
    assert(got(2L)._1 == 11L && got(2L)._2 == 1.0 / 62)
    assert(got(3L)._1 == 12L && got(3L)._2 == 1.0 / 62)
    assert(got.size == 3)
    // absent-system ranks surface as 0 (doc 11 has no vector rank)
    assert(got(2L)._3 == 2L && got(2L)._4 == 0L)
  }

  test("cube emits all four grouping combinations consistently") {
    import spark.implicits._
    val df = Seq(("A", "x", 1L), ("A", "y", 2L), ("B", "x", 4L))
      .toDF("g1", "g2", "v")
    val got = df.cube("g1", "g2").agg(sum("v").as("s"))
      .select(coalesce(col("g1"), lit("ALL")).as("g1"),
        coalesce(col("g2"), lit("ALL")).as("g2"), col("s"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got(("ALL", "ALL")) == 7L)                       // grand total
    assert(got(("A", "ALL")) == 3L && got(("B", "ALL")) == 4L)
    assert(got(("ALL", "x")) == 5L && got(("ALL", "y")) == 2L)
    assert(got(("A", "x")) == 1L && got(("A", "y")) == 2L && got(("B", "x")) == 4L)
    // 3 detail + 2 g1-totals + 2 g2-totals + 1 grand total
    assert(got.size == 8)
  }

  test("pivot cells equal filtered counts; stack copies value bits") {
    import spark.implicits._
    val df = Seq(("p1", "F"), ("p1", "F"), ("p1", "O"), ("p2", "P"))
      .toDF("prio", "st")
    val piv = df.groupBy("prio").pivot("st", Seq("F", "O", "P")).agg(count(lit(1)))
      .select(col("prio"), coalesce(col("F"), lit(0L)).as("f"),
        coalesce(col("O"), lit(0L)).as("o"), coalesce(col("P"), lit(0L)).as("p"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(piv == Map("p1" -> ((2L, 1L, 0L)), "p2" -> ((0L, 0L, 1L))))
    val un = Seq((1L, 2.5, 3.5)).toDF("k", "a", "b")
      .selectExpr("k", "stack(2, 'a', a, 'b', b) AS (metric, value)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(un == Set((1L, "a", 2.5), (1L, "b", 3.5)))
  }

  test("incremental dedup equals batch dedup restricted to the slice") {
    import spark.implicits._
    // existing corpus (already deduped, ids below the slice), incoming
    // slice with: a fresh doc, a copy of an existing doc (must drop),
    // and an internal duplicate pair (lowest id must win)
    val existing = Seq(
      (1L, "alpha bravo charlie"), (2L, "delta echo foxtrot"), (3L, "golf hotel india")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "juliett kilo lima"),          // fresh -> kept
      (11L, "delta echo foxtrot"),         // exists in corpus -> dropped
      (12L, "mike november oscar"),        // fresh, first copy -> kept
      (13L, "mike november oscar"),        // slice-internal dup -> dropped
      (14L, "")                            // empty is a legitimate text
    ).toDF("doc_id", "text")
    assert(disjointIds(existing, incoming, "doc_id"), "precondition: slice ids are new")
    val inc = Dedup.incrementalDedup(existing, incoming)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(inc == Seq(10L, 12L, 14L))
    // THE LAW: with existing ids ordered below slice ids (the published
    // corpus has priority), batch-deduping the union and keeping only
    // slice rows gives the identical result — slice-at-a-time never
    // diverges from a full re-dedup
    val batch = Dedup.exactDedup(existing.unionAll(incoming))
      .filter(col("doc_id") >= 10L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(batch == inc)
    // idempotence: admitting the slice then re-running it is empty
    val again = Dedup.incrementalDedup(
      existing.unionAll(incoming.filter(col("doc_id").isin(10L, 12L, 14L))),
      incoming)
    assert(again.count() == 0)
  }

  test("line dedup removes cross-document boilerplate, keeps rare lines in order") {
    import spark.implicits._
    val d = Seq(
      (1L, "HEADER\nunique one\nrare\nFOOTER"),
      (2L, "HEADER\nunique two\nFOOTER"),
      (3L, "HEADER\nunique three\nrare\nFOOTER"),
      (4L, "HEADER\nFOOTER")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lineDedup(d, minDocs = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // HEADER/FOOTER occur in 4 and 4 docs -> removed; "rare" in 2 -> kept
    assert(out(1L) == (2L, "unique one\nrare"))
    assert(out(2L) == (1L, "unique two"))
    assert(out(3L) == (2L, "unique three\nrare"))
    // a doc that is pure boilerplate disappears (as chunkDedup)
    assert(!out.contains(4L))
    // line ORDER within a doc is preserved, not sorted lexically
    val ordered = TextAnalysis.lineDedup(
      Seq((9L, "zz\naa\nzz2")).toDF("doc_id", "text"), minDocs = 5).collect()
    assert(ordered.head.getString(2) == "zz\naa\nzz2")
  }

  test("mixture sampling hits target shares without upsampling") {
    import spark.implicits._
    // 3 sources: a=100, b=50, c=50 docs; target 50/25/25 -> the binding
    // source keeps rate 1 ... all rates 1 (mixture already on target);
    // skewing to 25/50/25 forces a to thin to 1/4 of its docs
    val d = (0 until 200).map { i =>
      val src = if (i < 100) "a" else if (i < 150) "b" else "c"
      (i.toLong, src)
    }.toDF("doc_id", "source")
    val onTarget = Sampling.mixtureSample(d,
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
    assert(onTarget.count() == 200, "already-on-target mixture keeps everything")
    val skewed = Sampling.mixtureSample(d,
      Map("a" -> 0.25, "b" -> 0.5, "c" -> 0.25))
    val bySrc = skewed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // T* = min(100/.25, 50/.5, 50/.25) = 100: b keeps all 50 (rate 1),
    // a thins at rate .25 (expectation 25), c at rate .5 (expectation 25)
    assert(bySrc("b") == 50L)
    assert(bySrc("a") > 10L && bySrc("a") < 40L, s"a kept ${bySrc("a")}")
    assert(bySrc("c") > 10L && bySrc("c") < 40L, s"c kept ${bySrc("c")}")
    // determinism + subset-of-input; dropped source vanishes entirely
    val again = Sampling.mixtureSample(d, Map("a" -> 0.25, "b" -> 0.5, "c" -> 0.25))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == skewed.select("doc_id").collect().map(_.getLong(0)).toSet)
    val dropped = Sampling.mixtureSample(d, Map("a" -> 0.6, "b" -> 0.4))
    assert(dropped.filter(col("source") === "c").count() == 0)
    // binding-source clamp: share=0.1 over n=3 makes share*(n/share)/n
    // come out 0.9999999999999999 in raw doubles — the rate relation
    // must report EXACTLY 1.0 for the binding source or its docs with
    // md5 prefix "ffffffff" silently drop at scale
    val tiny = ((0 until 3).map(i => (i.toLong, "a")) ++
      (0 until 997).map(i => (100L + i, "b"))).toDF("doc_id", "source")
    val rates = Sampling.mixtureRates(tiny, Map("a" -> 0.1, "b" -> 0.9))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates("a") == 1.0, s"binding rate must be exactly 1.0, got ${rates("a")}")
    assert(rates("b") < 1.0)
  }

  test("temperatureSample flattens a skewed mixture, keeps the smallest source whole") {
    import spark.implicits._
    // skew 400/100/25: alpha=0.5 rates are sqrt(25/400)=0.25,
    // sqrt(25/100)=0.5, 1.0 — expectations 100/50/25 (uniform-ward)
    val d = ((0 until 400).map(i => (i.toLong, "big")) ++
      (0 until 100).map(i => (1000L + i, "mid")) ++
      (0 until 25).map(i => (2000L + i, "small"))).toDF("doc_id", "source")
    val kept = Sampling.temperatureSample(d, 0.5)
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("small") == 25L, "binding (smallest) source kept whole")
    assert(bySrc("big") > 60L && bySrc("big") < 140L, s"big kept ${bySrc("big")}")
    assert(bySrc("mid") > 25L && bySrc("mid") < 75L, s"mid kept ${bySrc("mid")}")
    // alpha=1 keeps natural shares: identity
    assert(Sampling.temperatureSample(d, 1.0).count() == 525L)
    // deterministic: same rows on re-run
    val a = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureSample(d, 0.5).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("budgetSelect equals the global greedy prefix for any budget and bin count") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    // coarse scores (dup-heavy -> tie-breaks exercised), varied tokens
    val d = (0 until 300).map { i =>
      (i.toLong, rnd.nextInt(100) / 100.0, 1L + rnd.nextInt(50)) }
      .toDF("doc_id", "s", "tk")
    val w = Window.orderBy(col("s").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def reference(budget: Long): Set[Long] =
      d.withColumn("cum", sum(col("tk")).over(w)).filter(col("cum") <= budget)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    for (budget <- Seq(0L, 17L, 500L, 3000L, 1000000L); bins <- Seq(1, 64)) {
      val got = Sampling.budgetSelect(d, budget, col("s"), col("tk"), bins)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == reference(budget), s"budget=$budget bins=$bins")
    }
  }

  test("bpePairCounts weights pairs by word frequency with exact integer counts") {
    import spark.implicits._
    val d = Seq((1L, "aaab aaab aaab"), (2L, "ab cd"), (3L, "")).toDF("doc_id", "text")
    val rows = TextAnalysis.bpePairCounts(d, k = 10).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3))
    val byPair = rows.toMap
    assert(byPair(('a'.toLong, 'a'.toLong)) == 6L) // two 'aa' per word x 3 occurrences
    assert(byPair(('a'.toLong, 'b'.toLong)) == 4L) // 'ab' in aaab x3 + standalone "ab"
    assert(byPair(('c'.toLong, 'd'.toLong)) == 1L)
    // the top merge candidate is the 'aa' pair
    assert(rows.maxBy(_._2)._1 == ('a'.toLong, 'a'.toLong))
  }

  test("hashedClassifierScore matches driver-side hash arithmetic, empty text scores 0") {
    val out = TextAnalysis.hashedClassifierScore(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def weight(w: String): Long = {
      val h = graft.functions.Hashing.fmix64(graft.functions.Hashing.fnv1a64(w))
      java.lang.Math.floorMod(h, 1024L) - 512L
    }
    val words1 = "the quick brown fox jumps over the lazy dog".split(" ")
    assert(out(1L).getAs[Long]("n_words") == 9L)
    assert(out(1L).getAs[Long]("raw_score") == words1.map(weight).sum)
    // identical texts score identically; the near-dup differs
    assert(out(2L).getAs[Long]("raw_score") == out(1L).getAs[Long]("raw_score"))
    assert(out(3L).getAs[Long]("raw_score") != out(1L).getAs[Long]("raw_score"))
    // empty text: 0 words, raw 0, mean guarded to 0.0
    assert(out(6L).getAs[Long]("n_words") == 0L)
    assert(out(6L).getAs[Long]("raw_score") == 0L)
    assert(out(6L).getAs[Double]("score") == 0.0)
  }

  test("histQuantilesByGroup equals histQuantiles run per group") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val d = (0 until 400).map { i =>
      (Seq("a", "b", "c")(i % 3), rnd.nextInt(500).toLong)
    }.toDF("g", "v")
    val grouped = Sketch.histQuantilesByGroup(d, "g", "v", bins = 16)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    for (g <- Seq("a", "b", "c")) {
      val single = Sketch.histQuantiles(d.filter(col("g") === g).select("v"), "v",
          bins = 16)
        .collect().map(r => (g, r.getDouble(0)) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(single.nonEmpty)
      single.foreach { case (k, v) => assert(grouped(k) == v, s"mismatch at $k") }
    }
  }

  test("semantic contamination flags corpus vectors near eval vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(17L)
    val corpus = (0 until 20).map(i => i.toLong -> Array.fill(32)(rnd.nextGaussian().toFloat))
    // eval set: noisy copies of corpus vectors 3 and 7 + one unrelated
    val eval = Seq(
      100L -> corpus(3)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat),
      101L -> corpus(7)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat),
      102L -> Array.fill(32)(rnd.nextGaussian().toFloat))
    val hits = Similarity.semanticContamination(
        corpus.toDF("vec_id", "embedding"), eval.toDF("vec_id", "embedding"),
        threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((100L, 3L), (101L, 7L)))
  }

  test("vocabulary coverage curve is monotone and exact on a known corpus") {
    import spark.implicits._
    // word counts: a=4, b=3, c=2, d=1 (10 tokens)
    val d = Seq((1L, "a a b c"), (2L, "a b c d"), (3L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(d, ks = Seq(1, 2, 3, 9))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (4L, 10L))
    assert(out(2L) == (7L, 10L))
    assert(out(3L) == (9L, 10L))
    // k beyond the vocabulary reports full coverage
    assert(out(9L) == (10L, 10L))
  }

  test("nll quality gate drops the high-surprise tail, keeps the rest") {
    import spark.implicits._
    val d = (Seq.tabulate(9)(i => (i.toLong, "normal text " * 3)) :+
      (99L, "qxzv" * 10)).toDF("doc_id", "text")
    val scored = TextAnalysis.bigramCrossEntropy(d)
    val thr = scored.agg(percentile(col("avg_nll"), lit(0.9)).as("t"))
    val kept = scored.crossJoin(thr).filter(col("avg_nll") <= col("t"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the one rare-bigram doc scores above the 90th percentile of this
    // corpus and must be the drop; every normal doc survives
    assert(!kept.contains(99L))
    assert((0L until 9L).forall(kept.contains))
  }

  test("sliding chunks tile every word with the declared overlap") {
    import spark.implicits._
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, ten), (2L, "a b c"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.slidingChunks(d, windowWords = 4, strideWords = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val doc1 = out.filter(_._1 == 1L).sortBy(_._2)
    // 10 words, window 4, stride 3 -> chunks at 0,3,6 cover every word
    // (no start-at-9 chunk: ceil((10-4)/3) = 2 extra windows suffice)
    assert(doc1.map(_._3).toSeq == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(doc1.map(_._4).toSeq == Seq(4L, 4L, 4L))
    // a doc one word past the last full window gets a short final chunk
    val eleven = (1 to 11).map(i => s"w$i").mkString(" ")
    val tail = TextAnalysis.slidingChunks(
        Seq((9L, eleven)).toDF("doc_id", "text"), windowWords = 4, strideWords = 3)
      .collect().map(r => (r.getInt(1), r.getString(2))).sortBy(_._1)
    assert(tail.last._2 == "w10 w11")
    // overlap law: consecutive chunks share window - stride words
    assert(doc1(0)._3.split(" ").last == doc1(1)._3.split(" ").head)
    // short doc -> one chunk; empty doc -> one empty chunk, zero words
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, "a b c", 3L)))
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0, "", 0L)))
    // coverage law: concatenating stride-prefixes reconstructs the doc
    val rebuilt = doc1.init.map(_._3.split(" ").take(3)).flatten ++ doc1.last._3.split(" ")
    assert(rebuilt.toSeq == (1 to 10).map(i => s"w$i"))
  }

  test("bigram cross-entropy ranks rare character sequences as surprising") {
    import spark.implicits._
    val d = Seq(
      (1L, "aaaaaaaaaa"),  // the most conventional text in this corpus
      (2L, "aaaaaaaaaa"),
      (3L, "aaaaaaaaaa"),
      (4L, "qxzvqxzvqx"),  // rare bigrams -> high surprise
      (5L, "a")            // no bigrams -> dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramCrossEntropy(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!out.contains(5L))
    assert(out(1L) == out(2L) && out(2L) == out(3L))
    assert(out(4L) > out(1L), s"rare text must score higher: ${out(4L)} vs ${out(1L)}")
    // n_bigrams = length - 1
    val n = TextAnalysis.bigramCrossEntropy(d).filter(col("doc_id") === 1L)
      .select("n_bigrams").head().getLong(0)
    assert(n == 9L)
  }

  test("bigramLmState lifecycle: parity with bigramCrossEntropy, merge/retract laws, unseen gates hardest") {
    import spark.implicits._
    val d = Seq(
      (1L, "aaaaaaaaaa"),
      (2L, "aaaaaaaaaa"),
      (3L, "ababababab"),
      (4L, "qxzvqxzvqx")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    def smap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // parity: a corpus scored against ITS OWN from-scratch state is
    // bigramCrossEntropy exactly (same counts, same pinned fold)
    val state = TextAnalysis.bigramLmState(d)
    assert(rows(TextAnalysis.bigramNllAgainstState(d, state)) ==
      rows(TextAnalysis.bigramCrossEntropy(d)))
    // merge ≡ union's from-scratch state; retract ≡ survivors'; the
    // fully-freed bigrams of doc 4 vanish from the state
    val a = d.filter($"doc_id" <= 2L); val b = d.filter($"doc_id" > 2L)
    assert(smap(TextAnalysis.mergeBigramLmStates(
      TextAnalysis.bigramLmState(a), TextAnalysis.bigramLmState(b))) ==
      smap(state))
    val retracted = TextAnalysis.retractBigramLmState(state,
      d.filter($"doc_id" === 4L))
    assert(smap(retracted) == smap(TextAnalysis.bigramLmState(
      d.filter($"doc_id" =!= 4L))))
    // the quality-model unlearning effect: after doc 4's takedown its
    // bigrams are UNSEEN (cnt -> 1, ln 1 = 0 — maximum surprise), so a
    // re-presented copy scores strictly above every in-distribution doc
    val rescored = rows(TextAnalysis.bigramNllAgainstState(d, retracted))
      .map(t => t._1 -> t._3).toMap
    assert(rescored(4L) > rescored(1L) && rescored(4L) > rescored(3L))
    assert(rescored(4L) == math.rint(
      (math.log(smap(retracted).values.sum.toDouble)) * 1e6) / 1e6,
      "all-unseen doc scores exactly ln(total) — the formula ceiling")
    // lifecycle-corruption guard (ADVICE r12): a retraction run against
    // the WRONG state leaves negative counts, and scoring must fail
    // fast instead of silently folding log(negative) into null avg_nll
    val corrupt = TextAnalysis.retractBigramLmState(
      TextAnalysis.bigramLmState(a), d.filter($"doc_id" === 4L))
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.bigramNllAgainstState(d, corrupt)
    }
    assert(ex.getMessage.contains("negative count"))
  }

  test("minhash LSH finds near-duplicates and verifies exact jaccard") {
    val pairs = Dedup.minhashNearDups(docs, k = 5, numHashes = 64, bands = 32,
      threshold = 0.5).collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((1L, 2L)) && keys.contains((2L, 3L)) && keys.contains((1L, 3L)))
    val j12 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get.getDouble(2)
    assert(j12 == 1.0) // identical texts
    assert(!keys.exists(p => p._1 == 5L || p._2 == 5L))
    val deduped = Dedup.minhashDedup(docs, k = 5, numHashes = 64, bands = 32, threshold = 0.5)
    assert(!deduped.select("doc_id").collect().map(_.getLong(0)).contains(2L))
  }

  test("incrementalMinhashDedup: equals batch on the union; the index, not the corpus text, is the old side's authority") {
    import spark.implicits._
    // four unrelated sentence families (cross-family char-5-gram
    // Jaccard ~ 0), near-dup variants made by short appended tails
    val a = "the alpine meadow stretches wide beneath a pale morning sky while marmots whistle across the scree"
    val b = "quantum solvers iterate over sparse matrices until the residual drops below machine epsilon thresholds"
    val c = "fermented tea leaves steep slowly in copper kettles as the market vendors argue about prices"
    val d = "distributed shuffle services spill partitioned buffers to local disks when executors exceed memory fractions"
    val old = Seq((1L, a), (2L, a + " v2"), (3L, b), (4L, c))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (101L, a + " tail"), // drops: near-dups old 1/2 via the index
      (102L, d),           // survives: genuinely new
      (103L, d + " x"),    // drops: within-slice near-dup of 102
      (104L, c + " y"),    // drops: near-dups old 4
      (105L, "totally different short text about engines here")
    ).toDF("doc_id", "text")
    assert(disjointIds(old, incoming, "doc_id"), "precondition: slice ids are new")
    val index = Dedup.minhashBandIndex(old, k = 5, numHashes = 64, bands = 16)
    val inc = Dedup.incrementalMinhashDedup(index, old, incoming,
        k = 5, numHashes = 64, bands = 16, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(inc == Seq(102L, 105L))
    // THE law: under the ingest-order id invariant (all old ids < all
    // incoming ids) the survivors equal batch minhashDedup over the
    // union restricted to incoming rows
    val batch = Dedup.minhashDedup(old.unionAll(incoming), k = 5,
        numHashes = 64, bands = 16, threshold = 0.5)
      .filter(col("doc_id") >= 100L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(inc == batch, "incremental must equal batch minhashDedup on the union")
    // signatures are READ, not recomputed: holing doc 4 out of the
    // index lets its mutated copy 104 through even though the corpus
    // relation still carries doc 4's text
    val holed = index.filter(col("doc_id") =!= 4L)
    val leaked = Dedup.incrementalMinhashDedup(holed, old, incoming,
        k = 5, numHashes = 64, bands = 16, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(leaked == Seq(102L, 104L, 105L),
      "a doc absent from the index must suppress nothing — the index is the authority")
    // empty index degenerates to within-slice minhashDedup
    val solo = Dedup.incrementalMinhashDedup(index.filter(lit(false)),
        old.filter(lit(false)), incoming,
        k = 5, numHashes = 64, bands = 16, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val soloBatch = Dedup.minhashDedup(incoming, k = 5, numHashes = 64,
        bands = 16, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(solo == soloBatch)
    // the index delta is a pure append: index ∪ delta(survivors)
    // equals the index rebuilt over old ∪ survivors
    val survivors = incoming.filter(col("doc_id").isin(inc: _*))
    val delta = Dedup.minhashBandIndex(survivors, k = 5, numHashes = 64,
      bands = 16)
    val appended = index.unionByName(delta).collect().map(_.toSeq).toSet
    val rebuilt = Dedup.minhashBandIndex(old.unionAll(survivors), k = 5,
      numHashes = 64, bands = 16).collect().map(_.toSeq).toSet
    assert(appended == rebuilt, "maintaining the index is a pure append of the delta")
  }

  test("two-generation chaining law: slice -> dedup -> append delta -> next slice equals one batch run") {
    import spark.implicits._
    // the full production loop, composed twice: generation 1 dedups
    // against the corpus index and appends its survivors' delta;
    // generation 2 dedups against the GROWN index — and the final
    // survivor set must equal a single batch minhashDedup over all
    // three generations. This is the law that makes weekly re-crawls
    // sound: the index a pipeline maintains by pure appends never
    // drifts from what a from-scratch rebuild would say. (The batch
    // equality additionally needs dropped docs not to be the SOLE
    // suppressor of a later doc — a batch rebuild keeps dropped docs'
    // bands while the maintained index deliberately does not; at
    // near-dup thresholds suppression is nearly transitive so the
    // regimes coincide, and the fixture stays inside it.)
    val a = "the alpine meadow stretches wide beneath a pale morning sky while marmots whistle across the scree"
    val b = "quantum solvers iterate over sparse matrices until the residual drops below machine epsilon thresholds"
    val c = "fermented tea leaves steep slowly in copper kettles as the market vendors argue about prices"
    val d = "distributed shuffle services spill partitioned buffers to local disks when executors exceed memory fractions"
    val g0 = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val g1 = Seq(
      (11L, a + " x"), // dup of gen-0 doc 1: dropped, never enters the index
      (12L, c)         // new: survives, its bands append
    ).toDF("doc_id", "text")
    val g2 = Seq(
      (21L, c + " y"), // dup of gen-1 SURVIVOR 12 — only caught if the delta appended
      (22L, b + " z"), // dup of gen-0 doc 2 — the original index still binds
      (23L, d)         // new
    ).toDF("doc_id", "text")
    def bi(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashBandIndex(df, k = 5, numHashes = 64, bands = 16)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val idx0 = bi(g0)
    val s1 = Dedup.incrementalMinhashDedup(idx0, g0, g1,
      k = 5, numHashes = 64, bands = 16, threshold = 0.5)
    assert(ids(s1) == Seq(12L))
    val idx1 = idx0.unionByName(bi(s1))               // the delta append
    val corpus1 = g0.unionByName(s1)                  // corpus grows by survivors
    val s2 = Dedup.incrementalMinhashDedup(idx1, corpus1, g2,
      k = 5, numHashes = 64, bands = 16, threshold = 0.5)
    assert(ids(s2) == Seq(23L),
      "gen-2 must drop dups of BOTH the original corpus and gen-1 survivors")
    // the one-shot truth: batch over all generations, restricted to g2
    val batch = ids(Dedup.minhashDedup(g0.unionByName(g1).unionByName(g2),
        k = 5, numHashes = 64, bands = 16, threshold = 0.5)
      .filter(col("doc_id") >= 20L))
    assert(ids(s2) == batch, "chained increments must equal the batch rebuild")
  }

  test("lifecycle chaining law: build -> append -> RETRACT -> next slice equals the batch rebuild on corpus minus removed") {
    import spark.implicits._
    // the two-generation chaining law with a takedown in the middle —
    // the full production loop including the lifecycle's third verb:
    // gen-1 dedups and appends its delta, THEN doc 2 is purged
    // (retracted from the grown index, dropped from the corpus), and
    // gen-2 must (a) still drop dups of gen-1 SURVIVORS, (b) ADMIT the
    // dup of the purged doc, (c) equal the from-scratch batch run over
    // corpus-minus-removed — the maintained index never drifts from a
    // rebuild, whatever order appends and retractions interleave in
    val a = "the alpine meadow stretches wide beneath a pale morning sky while marmots whistle across the scree"
    val b = "quantum solvers iterate over sparse matrices until the residual drops below machine epsilon thresholds"
    val c = "fermented tea leaves steep slowly in copper kettles as the market vendors argue about prices"
    val d = "distributed shuffle services spill partitioned buffers to local disks when executors exceed memory fractions"
    val g0 = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val g1 = Seq((11L, a + " x"), (12L, c)).toDF("doc_id", "text")
    val g2 = Seq(
      (21L, c + " y"), // dup of gen-1 survivor 12: still drops
      (22L, b + " z"), // dup of PURGED doc 2: now admitted
      (23L, d)         // new
    ).toDF("doc_id", "text")
    def bi(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashBandIndex(df, k = 5, numHashes = 64, bands = 16)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val idx0 = bi(g0)
    val s1 = Dedup.incrementalMinhashDedup(idx0, g0, g1,
      k = 5, numHashes = 64, bands = 16, threshold = 0.5)
    assert(ids(s1) == Seq(12L))
    val removed = Seq(2L).toDF("doc_id")
    val idx1 = Dedup.retractFromIndex(idx0.unionByName(bi(s1)), removed)
    val corpus1 = g0.unionByName(s1).join(removed, Seq("doc_id"), "left_anti")
    val s2 = Dedup.incrementalMinhashDedup(idx1, corpus1, g2,
      k = 5, numHashes = 64, bands = 16, threshold = 0.5)
    assert(ids(s2) == Seq(22L, 23L),
      "gen-2 must drop the survivor's dup and ADMIT the purged doc's dup")
    // from-scratch truth: batch over corpus-minus-removed ∪ gen-2
    val batch = ids(Dedup.minhashDedup(corpus1.unionByName(g2),
        k = 5, numHashes = 64, bands = 16, threshold = 0.5)
      .filter(col("doc_id") >= 20L))
    assert(ids(s2) == batch,
      "append-retract-append chains must equal the batch rebuild")
  }

  test("refcounted digest lifecycle: shared texts survive partial purges, last-holder purges free them, interleavings equal the rebuild") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha text"), (2L, "beta text"), (3L, "alpha text"), // shared
      (4L, "gamma text")
    ).toDF("doc_id", "text")
    def countsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = Dedup.digestCounts(corpus)
    // purge doc 1: "alpha text" still held by doc 3 -> count drops to
    // 1, digest stays live; purge doc 4: last holder -> digest freed
    val afterPurge = Dedup.retractFromDigestCounts(base,
      corpus.filter(col("doc_id").isin(1L, 4L)))
    val survivors = corpus.filter(!col("doc_id").isin(1L, 4L))
    assert(countsOf(afterPurge) == countsOf(Dedup.digestCounts(survivors)),
      "retraction must equal the rebuild on the surviving corpus")
    // takedown semantics through the dedup itself: a re-crawl of the
    // shared text still drops (a live holder remains); the freed text
    // is admitted
    val slice = Seq((11L, "alpha text"), (12L, "gamma text"))
      .toDF("doc_id", "text")
    val admitted = Dedup.incrementalDedupByDigests(
        afterPurge.select("__digest"), slice)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted == Seq(12L),
      s"shared text must still suppress, freed text must admit: $admitted")
    // the bare digest set CANNOT do this — both failure modes, pinned:
    // dropping the purged docs' digests re-admits the shared text...
    val naiveDrop = base.join(
      corpus.filter(col("doc_id").isin(1L, 4L))
        .select(md5(col("text")).as("__digest")),
      Seq("__digest"), "left_anti")
    assert(Dedup.incrementalDedupByDigests(naiveDrop.select("__digest"), slice)
      .count() == 2L, "naive digest drop re-admits a text a live doc holds")
    // ...and keeping them blocks the genuinely purged text forever
    assert(Dedup.incrementalDedupByDigests(base.select("__digest"), slice)
      .count() == 0L, "no retraction blocks re-crawls of purged content")
    // the replay contract: a RETRIED purge derives its removal set from
    // the already-purged corpus, finds nothing, and subtracts nothing —
    // deriving removedDocs from the live corpus (not a standalone
    // payload) is what makes whole-purge retries idempotent
    val replay = Dedup.retractFromDigestCounts(afterPurge,
      survivors.filter(col("doc_id").isin(1L, 4L)))
    assert(countsOf(replay) == countsOf(afterPurge),
      "a retried purge must be a no-op against the purged corpus")
    // counts are additive: append/retract interleavings equal the
    // rebuild on whatever corpus results
    val g1 = Seq((21L, "delta text"), (22L, "alpha text")).toDF("doc_id", "text")
    val maintained = Dedup.retractFromDigestCounts(
      Dedup.appendDigestCounts(afterPurge, g1),
      corpus.filter(col("doc_id") === 3L))
    val rebuilt = Dedup.digestCounts(
      survivors.unionByName(g1).filter(col("doc_id") =!= 3L))
    assert(countsOf(maintained) == countsOf(rebuilt),
      "append-retract interleavings must equal the from-scratch rebuild")
  }

  test("retractFromIndex: a retracted doc suppresses nothing; retract-then-append equals rebuild from corpus minus removed") {
    import spark.implicits._
    val a = "the alpine meadow stretches wide beneath a pale morning sky while marmots whistle across the scree"
    val b = "quantum solvers iterate over sparse matrices until the residual drops below machine epsilon thresholds"
    val c = "fermented tea leaves steep slowly in copper kettles as the market vendors argue about prices"
    val old = Seq((1L, a), (2L, a + " v2"), (3L, b), (4L, c))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (101L, a + " tail"), // near-dups old 1/2: still drops (1/2 not removed)
      (104L, c + " y")     // near-dups ONLY removed old 4: must be ADMITTED
    ).toDF("doc_id", "text")
    val index = Dedup.minhashBandIndex(old, k = 5, numHashes = 64, bands = 16)
    val removed = Seq(4L).toDF("doc_id")
    val retracted = Dedup.retractFromIndex(index, removed)
    // retraction ≡ rebuild: exactly the rows of the index built on
    // corpus ∖ removed (per-doc rows make deletion as local as append)
    val rebuilt = Dedup.minhashBandIndex(
      old.join(removed, Seq("doc_id"), "left_anti"),
      k = 5, numHashes = 64, bands = 16)
    assert(retracted.collect().map(_.toSeq).toSet ==
      rebuilt.collect().map(_.toSeq).toSet,
      "retractFromIndex must equal the index rebuilt on corpus minus removed")
    // the INVERSE of the holing law: what was a leak is now the spec —
    // after a takedown of doc 4, its future near-dup is admitted (the
    // doc is gone; nothing may cite it as a suppressor), while dups of
    // surviving docs still drop
    val corpusAfter = old.join(removed, Seq("doc_id"), "left_anti")
    val survivors = Dedup.incrementalMinhashDedup(retracted, corpusAfter,
        incoming, k = 5, numHashes = 64, bands = 16, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == Seq(104L),
      s"retracted doc must suppress nothing, live docs still bind: $survivors")
    // retract-then-append ≡ rebuild from corpus∖removed ∪ survivors:
    // the maintained index never drifts from a from-scratch rebuild,
    // whatever order appends and retractions interleave in
    val admitted = incoming.filter(col("doc_id").isin(survivors: _*))
    val maintained = retracted
      .unionByName(Dedup.minhashBandIndex(admitted, k = 5, numHashes = 64,
        bands = 16))
      .collect().map(_.toSeq).toSet
    val fromScratch = Dedup.minhashBandIndex(
        corpusAfter.unionAll(admitted), k = 5, numHashes = 64, bands = 16)
      .collect().map(_.toSeq).toSet
    assert(maintained == fromScratch,
      "retract-then-append must equal the rebuild from corpus minus removed")
    // the embedding index retracts through the SAME function (both
    // index shapes key rows by doc_id): a takedown of vec 1 admits its
    // scaled near-copy where the intact index suppressed it
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val eOld = emb.filter(col("vec_id") < 20)
    val eIncoming = emb.filter(col("vec_id") === 25L).unionAll(
      emb.filter(col("vec_id") === 1L)
        .select((col("vec_id") + 1000L).as("vec_id"),
          transform(col("embedding"), x => (x * lit(1.000001f)).cast("float"))
            .as("embedding")))
    val eIndex = Dedup.signBucketIndex(eOld, planes = 12, tables = 4)
    def eIds(idx: org.apache.spark.sql.DataFrame,
             corpus: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalEmbeddingDedup(idx, corpus, eIncoming,
          threshold = 0.95, planes = 12, tables = 4)
        .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(eIds(eIndex, eOld) == Seq(25L), "intact index suppresses the copy")
    val eRemoved = Seq(1L).toDF("vec_id")
    val eCorpusAfter = eOld.join(eRemoved, Seq("vec_id"), "left_anti")
    assert(eIds(Dedup.retractFromIndex(eIndex,
        eRemoved.withColumnRenamed("vec_id", "doc_id")), eCorpusAfter)
      == Seq(25L, 1001L),
      "after retraction the scaled copy of the purged vector is admitted")
  }

  test("incremental dedup leaves nothing in the CacheManager; bloom-pruned probe is identical and prunes absent keys") {
    import spark.implicits._
    val a = "the alpine meadow stretches wide beneath a pale morning sky while marmots whistle across the scree"
    val b = "quantum solvers iterate over sparse matrices until the residual drops below machine epsilon thresholds"
    val c = "fermented tea leaves steep slowly in copper kettles as the market vendors argue about prices"
    val d = "distributed shuffle services spill partitioned buffers to local disks when executors exceed memory fractions"
    val old = Seq((1L, a), (2L, a + " v2"), (3L, b), (4L, c))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (101L, a + " tail"), (102L, d), (103L, d + " x"), (104L, c + " y"),
      (105L, "totally different short text about engines here")
    ).toDF("doc_id", "text")
    val index = Dedup.minhashBandIndex(old, k = 5, numHashes = 64, bands = 16)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.head).collect().map(_.getLong(0)).sorted.toSeq
    // VERDICT r10 nit 1 / Done criterion: after a full dedup ACTION the
    // session CacheManager is empty — no manual clearCache, no
    // caller-owned persists. Internal persists are released on exit;
    // the verified-pair relation is checkpoint-materialized (zero
    // CacheManager footprint).
    spark.catalog.clearCache()
    val survivors = ids(Dedup.incrementalMinhashDedup(index, old, incoming,
      k = 5, numHashes = 64, bands = 16, threshold = 0.5))
    assert(survivors == Seq(102L, 105L))
    assert(spark.sharedState.cacheManager.isEmpty,
      "incrementalMinhashDedup must release every internal persist")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val eOld = emb.filter(col("vec_id") < 20)
    val eInc = emb.filter(col("vec_id") >= 20 && col("vec_id") < 40)
    val eIndex = Dedup.signBucketIndex(eOld, planes = 12, tables = 4)
    val eUnpruned = ids(Dedup.incrementalEmbeddingDedup(eIndex, eOld, eInc,
      threshold = 0.95, planes = 12, tables = 4))
    assert(spark.sharedState.cacheManager.isEmpty,
      "incrementalEmbeddingDedup must release every internal persist")
    // the sidecar serves the embedding index too (long buckets hash the
    // same way through xxhash64(band, bucket)): pruned ≡ unpruned
    val ePruned = ids(Dedup.incrementalEmbeddingDedup(eIndex, eOld, eInc,
      threshold = 0.95, planes = 12, tables = 4,
      bloom = Some(Dedup.indexBloom(eIndex))))
    assert(ePruned == eUnpruned,
      "bloom-pruned embedding dedup must equal the unpruned result")
    Dedup.minhashSliceDiffReport(index,
      old.withColumn("source", lit("s")),
      incoming.withColumn("source", lit("s")),
      k = 5, numHashes = 64, bands = 16, threshold = 0.5).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "minhashSliceDiffReport must release every internal persist")
    // the bloom sidecar: no false negatives (every index key admitted),
    // planted-absent keys rejected (the probe's join input shrinks),
    // and the pruned dedup EQUALS the unpruned one row-for-row
    val bloom = Dedup.indexBloom(index)
    val idxKeys = index.select(col("band"), col("bucket")).distinct()
    assert(idxKeys.filter(!might_contain(lit(bloom),
        xxhash64(col("band"), col("bucket")))).count() == 0L,
      "bloom sidecar must admit every published index key")
    // the slice's band keys: docs 102/103/105 are unrelated to the
    // corpus, so most slice keys are provably absent and must be cut
    // before the semi-join
    val sliceKeys = Dedup.minhashBandIndex(incoming, k = 5, numHashes = 64,
        bands = 16).select(col("band"), col("bucket")).distinct()
    val admitted = sliceKeys.filter(might_contain(lit(bloom),
      xxhash64(col("band"), col("bucket")))).count()
    assert(admitted < sliceKeys.count() / 2,
      s"planted-absent slice keys must be bloom-pruned: $admitted of ${sliceKeys.count()}")
    val pruned = ids(Dedup.incrementalMinhashDedup(index, old, incoming,
      k = 5, numHashes = 64, bands = 16, threshold = 0.5,
      bloom = Some(bloom)))
    assert(pruned == survivors,
      "bloom-pruned dedup must equal the unpruned result row-for-row")
    // an EMPTY index serializes an empty sketch: every probe rejects,
    // and the pruned run still equals the unpruned (within-slice-only)
    val emptyBloom = Dedup.indexBloom(index.filter(lit(false)))
    val soloPruned = ids(Dedup.incrementalMinhashDedup(
      index.filter(lit(false)), old.filter(lit(false)), incoming,
      k = 5, numHashes = 64, bands = 16, threshold = 0.5,
      bloom = Some(emptyBloom)))
    val solo = ids(Dedup.incrementalMinhashDedup(
      index.filter(lit(false)), old.filter(lit(false)), incoming,
      k = 5, numHashes = 64, bands = 16, threshold = 0.5))
    assert(soloPruned == solo)
  }

  test("indexBloomPerBand: shards serve key counts the single sidecar's guard refuses; pruned equals unpruned; per-shard guard trips at bands x the limit") {
    import spark.implicits._
    val a = "the alpine meadow stretches wide beneath a pale morning sky while marmots whistle across the scree"
    val b = "quantum solvers iterate over sparse matrices until the residual drops below machine epsilon thresholds"
    val c = "fermented tea leaves steep slowly in copper kettles as the market vendors argue about prices"
    val d = "distributed shuffle services spill partitioned buffers to local disks when executors exceed memory fractions"
    val old = Seq((1L, a), (2L, a + " v2"), (3L, b), (4L, c))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (101L, a + " tail"), (102L, d), (103L, d + " x"), (104L, c + " y"),
      (105L, "totally different short text about engines here")
    ).toDF("doc_id", "text")
    val index = Dedup.minhashBandIndex(old, k = 5, numHashes = 64, bands = 16)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val unpruned = ids(Dedup.incrementalMinhashDedup(index, old, incoming,
      k = 5, numHashes = 64, bands = 16, threshold = 0.5))
    val keys = index.select(col("band"), col("bucket")).distinct()
    val totalKeys = keys.count()
    val maxPerBand = keys.groupBy("band").count()
      .agg(max("count")).head().getLong(0)
    assert(totalKeys > maxPerBand, "fixture must have multi-band keys")
    val itemsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val saved = spark.conf.get(itemsConf, "4000000")
    try {
      // tighten the aggregate cap BETWEEN the largest band's key count
      // and the whole index's: the single sidecar's guard now refuses
      // this index (the r11 refuse-only regime) while every per-band
      // shard still fits — the exact scale relationship the sharding
      // exists for, scaled down to fixture size
      spark.conf.set(itemsConf, maxPerBand.toString)
      val refused = intercept[IllegalArgumentException](
        Dedup.indexBloom(index))
      assert(refused.getMessage.contains("indexBloomPerBand"))
      val shards = Dedup.indexBloomPerBand(index)
      assert(shards.keySet == (0 until 16).toSet,
        "every populated band publishes a shard")
      // no false negatives: every published key admitted by ITS shard
      val dispatch = shards.toSeq.sortBy(_._1).foldLeft(lit(false)) {
        case (acc, (bd, bf)) => when(col("band") === bd,
          might_contain(lit(bf), xxhash64(col("band"), col("bucket"))))
          .otherwise(acc)
      }
      assert(keys.filter(!dispatch).count() == 0L,
        "a shard rejected a key of its own band")
      // planted-absent slice keys still prune (the sidecar's point)
      val sliceKeys = Dedup.minhashBandIndex(incoming, k = 5,
        numHashes = 64, bands = 16).select(col("band"), col("bucket")).distinct()
      val admitted = sliceKeys.filter(dispatch).count()
      assert(admitted < sliceKeys.count() / 2,
        s"absent keys must prune: $admitted of ${sliceKeys.count()}")
      // the law the driver gate re-proves: pruned ≡ unpruned
      val pruned = ids(Dedup.incrementalMinhashDedup(index, old, incoming,
        k = 5, numHashes = 64, bands = 16, threshold = 0.5,
        bloomPerBand = Some(shards)))
      assert(pruned == unpruned,
        "sharded-sidecar dedup must equal the unpruned result")
      // the per-shard guard trips only once a BAND exceeds the cap —
      // bands x the single sidecar's capacity, as designed
      spark.conf.set(itemsConf, (maxPerBand - 1).toString)
      val tripped = intercept[IllegalArgumentException](
        Dedup.indexBloomPerBand(index))
      assert(tripped.getMessage.contains("largest band shard"))
    } finally spark.conf.set(itemsConf, saved)
    // degeneracies: an empty index publishes no shards, and a probe
    // against the empty map rejects everything — the within-slice-only
    // run equals its unpruned twin; the two sidecar flavors are
    // mutually exclusive
    assert(Dedup.indexBloomPerBand(index.filter(lit(false))).isEmpty)
    val soloPruned = ids(Dedup.incrementalMinhashDedup(
      index.filter(lit(false)), old.filter(lit(false)), incoming,
      k = 5, numHashes = 64, bands = 16, threshold = 0.5,
      bloomPerBand = Some(Map.empty)))
    val solo = ids(Dedup.incrementalMinhashDedup(
      index.filter(lit(false)), old.filter(lit(false)), incoming,
      k = 5, numHashes = 64, bands = 16, threshold = 0.5))
    assert(soloPruned == solo)
    intercept[IllegalArgumentException](
      Dedup.incrementalMinhashDedup(index, old, incoming,
        k = 5, numHashes = 64, bands = 16, threshold = 0.5,
        bloom = Some(Array[Byte](1)), bloomPerBand = Some(Map.empty)))
    // the embedding index shards through the same function (band =
    // table id, long buckets hash identically): pruned ≡ unpruned
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val eOld = emb.filter(col("vec_id") < 20)
    val eInc = emb.filter(col("vec_id") >= 20 && col("vec_id") < 40)
    val eIndex = Dedup.signBucketIndex(eOld, planes = 12, tables = 4)
    def vids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val eShards = Dedup.indexBloomPerBand(eIndex)
    assert(vids(Dedup.incrementalEmbeddingDedup(eIndex, eOld, eInc,
        threshold = 0.95, planes = 12, tables = 4,
        bloomPerBand = Some(eShards))) ==
      vids(Dedup.incrementalEmbeddingDedup(eIndex, eOld, eInc,
        threshold = 0.95, planes = 12, tables = 4)),
      "sharded-sidecar embedding dedup must equal the unpruned result")
  }

  test("hammingBandIndex/incrementalHammingDedup: equals batch under ingest order, full lifecycle, sidecars serve, nothing cached") {
    import spark.implicits._
    // planted 64-bit fingerprints with controlled distances: 101 is 2
    // bits from old 1 (cross drop), 103 is 1 bit from slice mate 102
    // (within drop), 102/104 are far from everything (keep)
    val old = Seq((1L, 0x0L), (2L, 0x0FF00FF00FF00FF0L),
      (3L, 0x123456789ABCDEFL)).toDF("doc_id", "sh")
    val incoming = Seq((101L, 0x3L), (102L, 0x7777000011110000L),
      (103L, 0x7777000011110001L), (104L, 0x00000000FFFFFFFFL))
      .toDF("doc_id", "sh")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(disjointIds(old, incoming, "doc_id"), "precondition: slice ids are new")
    val index = Dedup.hammingBandIndex(old, maxDistance = 2)
    spark.catalog.clearCache()
    val inc = ids(Dedup.incrementalHammingDedup(index, old, incoming,
      maxDistance = 2))
    assert(inc == Seq(102L, 104L), s"survivors: $inc")
    assert(spark.sharedState.cacheManager.isEmpty,
      "incrementalHammingDedup must release every internal persist")
    // equals-batch law (exact, not approximate: pigeonhole banding is
    // recall-lossless at the declared bound): the incremental survivors
    // ARE the batch dedup over the union, restricted to the slice
    val batch = ids(Dedup.hammingDedup(old.unionByName(incoming),
      maxDistance = 2).filter(col("doc_id") >= 100L))
    assert(inc == batch, s"incremental $inc must equal batch $batch")
    // both sidecar flavors serve the long-bucket index unchanged
    assert(ids(Dedup.incrementalHammingDedup(index, old, incoming,
      maxDistance = 2, bloom = Some(Dedup.indexBloom(index)))) == inc,
      "bloom-pruned hamming dedup must equal the unpruned result")
    assert(ids(Dedup.incrementalHammingDedup(index, old, incoming,
      maxDistance = 2,
      bloomPerBand = Some(Dedup.indexBloomPerBand(index)))) == inc,
      "sharded-sidecar hamming dedup must equal the unpruned result")
    // lifecycle: retraction ≡ rebuild on survivors, and a purged
    // fingerprint's near-copy is ADMITTED (the n154 admission law)
    val retracted = Dedup.retractFromIndex(index, Seq(1L).toDF("doc_id"))
    assert(retracted.collect().map(_.toSeq).toSet ==
      Dedup.hammingBandIndex(old.filter(col("doc_id") =!= 1L),
        maxDistance = 2).collect().map(_.toSeq).toSet,
      "retraction must equal the index rebuilt on corpus minus removed")
    val afterPurge = ids(Dedup.incrementalHammingDedup(retracted,
      old.filter(col("doc_id") =!= 1L), incoming, maxDistance = 2))
    assert(afterPurge == Seq(101L, 102L, 104L),
      s"the purged fingerprint's near-copy must be admitted: $afterPurge")
    // append ≡ rebuild: the survivors' index rows are the pure-append
    // delta, and the maintained index equals the from-scratch build
    val delta = Dedup.hammingBandIndex(
      incoming.join(ids(Dedup.incrementalHammingDedup(index, old, incoming,
          maxDistance = 2)).toDF("doc_id"), Seq("doc_id"), "left_semi"),
      maxDistance = 2)
    val maintained = index.unionByName(delta)
    val rebuilt = Dedup.hammingBandIndex(old.unionByName(
      incoming.filter(col("doc_id").isin(102L, 104L))), maxDistance = 2)
    assert(maintained.collect().map(_.toSeq).toSet ==
      rebuilt.collect().map(_.toSeq).toSet,
      "maintained index must equal the rebuild on corpus plus survivors")
  }

  test("exactSubstrDedup removes arbitrary-boundary spans that chunkDedup's grid provably misses; keep-first; no surviving inter-doc span") {
    import spark.implicits._
    val span = (1 to 32).map(i => s"w$i").mkString(" ")
    val rep = (1 to 12).map(i => s"m$i").mkString(" ")
    val d = Seq(
      (1L, span),          // the original: keeps everything
      (2L, "pad " + span), // duplicated span shifted ONE token off the grid
      // shares only a 7-gram with doc 1: below the n=8 bar, kept whole
      (3L, "other words " + (1 to 7).map(i => s"w$i").mkString(" ") +
        " differing tail entirely"),
      // INTRA-doc repeat: the second occurrence excises, the first keeps
      (4L, rep + " middle filler words here " + rep)
    ).toDF("doc_id", "text")
    // the defeat this operator exists for, pinned as a law: the
    // shifted copy lines up with NO 16-word chunk, so n38's chunk
    // dedup keeps doc 2 entirely — a one-token shift beats the grid
    val chunks = TextAnalysis.chunkDedup(d, chunkWords = 16).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("kept_chunks"))).toMap
    assert(chunks(2L)._1 == chunks(2L)._2,
      "chunk-aligned dedup must MISS the shifted duplicate (Lee et al.'s case)")
    val out = TextAnalysis.exactSubstrDedup(d, n = 8).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_clean"), r.getAs[Long]("n_tokens_kept"))).toMap
    assert(out(1L)._1 == span, "first occurrence keeps its copy")
    assert(out(2L)._1 == "pad",
      s"the shifted copy must be excised at its arbitrary boundary: ${out(2L)}")
    assert(out(3L)._2 == 12L && out(3L)._1.startsWith("other words"),
      "a shared 7-gram sits below the n=8 bar: kept whole")
    assert(out(4L)._1 == rep + " middle filler words here",
      s"intra-doc repeat: second occurrence excised: ${out(4L)}")
    // THE guarantee (Lee et al.'s postcondition): the output contains
    // no 8-token span shared by two documents — any duplicated span
    // >= n contains a duplicated n-gram, so checking n-grams suffices
    def grams(t: String): Set[String] =
      t.split("\\s+").filter(_.nonEmpty).sliding(8).filter(_.length == 8)
        .map(_.mkString(" ")).toSet
    val byDoc = out.toSeq.map { case (id, (t, _)) => id -> grams(t) }
    for {
      (ida, ga) <- byDoc
      (idb, gb) <- byDoc if ida < idb
    } assert(ga.intersect(gb).isEmpty,
      s"docs $ida/$idb still share an 8-gram: ${ga.intersect(gb).take(1)}")
  }

  test("incrementalExactSubstrDedup equals batch on the slice; gram-index merge algebra equals the from-scratch build") {
    import spark.implicits._
    val span = (1 to 32).map(i => s"w$i").mkString(" ")
    val once = (1 to 12).map(i => s"q$i").mkString(" ")
    val corpus = Seq(
      (1L, span), // a long span the slice will copy
      // a 12-gram the corpus holds ONCE — not in the corpus's own dupG
      // sliver, but it becomes duplicated the moment the slice
      // re-presents it (the reason the index keeps ALL grams)
      (2L, once + " unique corpus tail words following here"),
      (3L, "entirely unrelated corpus prose about tide tables and moons")
    ).toDF("doc_id", "text")
    val slice = Seq(
      (101L, "pad " + span),          // shifted copy of corpus doc 1
      (102L, once + " with a different continuation attached"), // re-presents doc 2's 12-gram
      (103L, "fresh slice document sharing nothing with anything else"),
      // within-slice: a copy of 103's opener, 8+ tokens
      (104L, "fresh slice document sharing nothing with anything else plus tail")
    ).toDF("doc_id", "text")
    val index = TextAnalysis.exactSubstrGramIndex(corpus, n = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "n_tokens_kept", "text_clean")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getString(3))).toSet
    val inc = rows(TextAnalysis.incrementalExactSubstrDedup(index, slice, n = 8))
    // THE law: equals batch over corpus ∪ slice restricted to the
    // slice, with the corpus's anchors read from the index
    val batch = rows(TextAnalysis.exactSubstrDedup(
      corpus.unionByName(slice), n = 8).filter(col("doc_id") >= 100L))
    assert(inc == batch, s"incremental must equal batch on the slice:\n$inc\nvs\n$batch")
    // the single-occurrence-gram case the cnt>=2 sliver would miss:
    // doc 102's copied 12-gram IS excised even though the corpus held
    // it only once
    val kept102 = inc.find(_._1 == 102L).get._4
    assert(!kept102.contains("q1 q2 q3 q4 q5 q6 q7 q8"),
      s"a gram the corpus holds once must still suppress its slice copy: $kept102")
    assert(inc.find(_._1 == 103L).get._3 == 8L, "first occurrence keeps")
    // merge algebra: counts additive, first = global min — the
    // maintained index equals the from-scratch build on the union
    val merged = TextAnalysis.mergeGramIndex(index,
      TextAnalysis.exactSubstrGramIndex(slice, n = 8))
    val rebuilt = TextAnalysis.exactSubstrGramIndex(
      corpus.unionByName(slice), n = 8)
    assert(merged.collect().map(_.toSeq).toSet ==
      rebuilt.collect().map(_.toSeq).toSet,
      "mergeGramIndex must equal the from-scratch gram index")
    // retraction (the n159 algebra): purge doc 1, and dedup against
    // the retracted index equals batch over survivors ∪ slice — the
    // span gram doc 1 alone held frees (its slice copy keeps every
    // token), while doc 2's gram keeps suppressing its copy. The
    // stale-first inertness law rides implicitly: equality holds even
    // where the retained rows still cite the purged doc as first.
    val removedDocs = corpus.filter(col("doc_id") === 1L)
    val retracted = TextAnalysis.retractFromGramIndex(index, removedDocs,
      n = 8)
    // counts equal the survivor rebuild (first freshness NOT asserted)
    val survRebuild = TextAnalysis.exactSubstrGramIndex(
      corpus.filter(col("doc_id") =!= 1L), n = 8)
    assert(retracted.select("g", "cnt").collect().map(_.toSeq).toSet ==
      survRebuild.select("g", "cnt").collect().map(_.toSeq).toSet,
      "retracted counts must equal the rebuild on survivors")
    val afterPurge = rows(
      TextAnalysis.incrementalExactSubstrDedup(retracted, slice, n = 8))
    val batchPurge = rows(TextAnalysis.exactSubstrDedup(
      corpus.filter(col("doc_id") =!= 1L).unionByName(slice), n = 8)
      .filter(col("doc_id") >= 100L))
    assert(afterPurge == batchPurge,
      "post-purge incremental must equal batch on survivors plus slice")
    val kept101 = afterPurge.find(_._1 == 101L).get
    assert(kept101._3 == kept101._2.toLong,
      s"the purged doc's span frees — its copy keeps every token: $kept101")
  }

  test("Ivf.append: frozen assignment replays the builder's; append equals rebuild-with-same-centroids; recall audit flags planted drift") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val old = emb.filter(col("vec_id") < 200)
    val idx = Ivf.build(old, nLists = 8, nRows = 200L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "list_id").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    // (1) the frozen assignment IS the fit-time transform, row for row
    // — the agreement that makes append-maintenance sound at all
    assert(rows(Ivf.assignFrozen(old, idx.centroids)) == rows(idx.assigned),
      "assignFrozen must replay KMeans.transform against the same centroids")
    // (2) append ≡ rebuild with the same centroids over the union —
    // the dedup indexes' append law, ANN edition
    val newer = emb.filter(col("vec_id") >= 200 && col("vec_id") < 400)
    val app = Ivf.append(idx, newer)
    assert(rows(app.assigned) ==
      rows(Ivf.assignFrozen(old.unionByName(newer), idx.centroids)),
      "append must equal the rebuild against frozen centroids")
    // (3) the retrain-due audit: the decision the weekly pipeline makes
    // is "does a retrain recover materially more recall than the
    // frozen-centroid append left on the table?". A planted
    // distribution shift — a tight cluster straddling the Voronoi
    // boundary of the two most separated frozen centroids, so its
    // members split across lists no single probe covers — makes the
    // retrain gain LARGE (the refit gives the cluster its own list and
    // recall goes to 1); a natural slice's gain stays small (frozen
    // centroids still fit data drawn from the same distribution).
    def recall(ix: Ivf.Index, q: org.apache.spark.sql.DataFrame): Double =
      Ivf.recallAudit(ix, q, k = 10, nProbe = 1).head().getAs[Double]("recall")
    val natQ = newer.filter(col("vec_id") < 220)
    val gainNat =
      recall(Ivf.build(old.unionByName(newer), nLists = 8, nRows = 400L), natQ) -
        recall(app, natQ)
    def d2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val cs = idx.centroids
    val (ca, cb) = (for (x <- cs; y <- cs if x._1 < y._1) yield (x, y))
      .maxBy { case (x, y) => d2(x._2, y._2) }
    val dim = ca._2.length
    val planted = (0 until 20).map { t =>
      val s = (if (t % 2 == 0) 1.0f else -1.0f) * (0.05f + 0.001f * t)
      (10000L + t, Array.tabulate(dim) { u =>
        (ca._2(u) + cb._2(u)) / 2 + s * (ca._2(u) - cb._2(u))
      })
    }.toDF("vec_id", "embedding")
    // the planted cluster really does straddle: members land in >= 2
    // frozen lists — the shape no single probe can cover
    assert(Ivf.assignFrozen(planted, idx.centroids)
      .select("list_id").distinct().count() >= 2L,
      "drift fixture must split across frozen lists")
    val rDrift = recall(Ivf.append(idx, planted), planted)
    val rRetrain = recall(
      Ivf.build(old.unionByName(planted), nLists = 8, nRows = 220L), planted)
    assert(rRetrain == 1.0,
      s"the refit must give the shifted cluster its own list: $rRetrain")
    assert(rRetrain - rDrift > 2.0 * math.max(gainNat, 0.0),
      s"the audit must separate drift (retrain gain ${rRetrain - rDrift}) " +
        s"from a healthy slice (gain $gainNat)")
  }

  test("Ivf.appendPq: frozen-codebook encode is slice-order invariant and exhaustive search stays exact") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val old = emb.filter(col("vec_id") < 200)
    val idx = Ivf.build(old, nLists = 8, nRows = 200L)
    val pq = Ivf.buildPq(idx, m = 16, codebookSize = 32, nRows = 200L)
    val s1 = emb.filter(col("vec_id") >= 200 && col("vec_id") < 300)
    val s2 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    def rows(p: Ivf.PqIndex) = p.encoded.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toList,
        r.getDouble(3))).toSet
    // per-row deterministic frozen encode => appending in two slices
    // equals appending once (the chaining shape of the dedup indexes)
    val once = Ivf.appendPq(pq, s1.unionByName(s2))
    val twice = Ivf.appendPq(Ivf.appendPq(pq, s1), s2)
    assert(rows(once) == rows(twice),
      "slice boundaries must be invisible to the encoded relation")
    // the appended relation partitions: every new id exactly once, old
    // rows untouched, and the coarse list agrees with assignFrozen
    assert(once.encoded.groupBy("vec_id").count()
      .filter(col("count") > 1).isEmpty, "every vector encoded once")
    assert(rows(once).size == 400)
    val lists = Ivf.assignFrozen(s1.unionByName(s2), idx.centroids)
      .select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    rows(once).filter(_._1 >= 200).foreach { case (id, list, _, _) =>
      assert(lists(id) == list, s"coarse list drifted for $id")
    }
    // exhaustive-intent search over the appended index reproduces the
    // exact top-k on the union (the n158 oracle's law, spot-checked):
    // codebooks never saw the new residual distribution, but the wide
    // rerank window re-ranks exactly
    val union = old.unionByName(s1).unionByName(s2)
    val q = emb.filter(col("vec_id") === 250L)
    val got = Ivf.searchPq(once, union, q, 5, nProbe = 8,
        rerank = Ivf.rerankFor(400L))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.GraftFunctions.cosine_similarity
    val truth = union.filter(col("vec_id") =!= 250L)
      .crossJoin(broadcast(q.select(col("embedding").as("q_emb"))))
      .select(col("vec_id"),
        cosine_similarity(col("embedding"), col("q_emb")).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= 5).select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == truth, s"appended PQ search $got must equal exact $truth")
  }

  test("Ivf.retract/retractPq: retraction equals rebuild on survivors, search never returns a removed id, lifecycle chains commute") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val old = emb.filter(col("vec_id") < 200)
    val idx = Ivf.build(old, nLists = 8, nRows = 200L)
    val removed = old.filter(col("vec_id") >= 5 && col("vec_id") % 5 === 2)
      .select("vec_id")
    val removedIds = removed.collect().map(_.getLong(0)).toSet
    val survivors = old.join(removed, Seq("vec_id"), "left_anti")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "list_id").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val r = Ivf.retract(idx, removed)
    // (1) retract ≡ rebuild against frozen centroids on the survivors
    // — per-row assignment makes deletion as local as the append
    assert(rows(r.assigned) == rows(Ivf.assignFrozen(survivors, idx.centroids)),
      "retract must equal the frozen-centroid rebuild on corpus minus removed")
    // (2) search never returns a removed id — at the operating partial
    // probe AND at full probe (the n160 oracle checks full only)
    val q = old.filter(col("vec_id") < 5)
    Seq(1, 8).foreach { np =>
      val got = Ivf.search(r, q, 10, nProbe = np)
        .select("vec_id").collect().map(_.getLong(0))
      assert(got.forall(!removedIds.contains(_)),
        s"retracted ids leaked from search at nProbe=$np")
    }
    // (3) retract-then-append ≡ rebuild from survivors ∪ appended, and
    // the two maintenance ops commute on disjoint ids — a maintained
    // index never drifts from a from-scratch frozen rebuild whatever
    // order takedowns and slices interleave in (the n154 chaining law)
    val slice = emb.filter(col("vec_id") >= 200 && col("vec_id") < 300)
    val thenAppend = Ivf.append(r, slice)
    assert(rows(thenAppend.assigned) ==
      rows(Ivf.assignFrozen(survivors.unionByName(slice), idx.centroids)),
      "retract-then-append must equal the rebuild from survivors plus slice")
    assert(rows(Ivf.retract(Ivf.append(idx, slice), removed).assigned) ==
      rows(thenAppend.assigned), "append and retract must commute")
    // the PQ flavor: same laws over the encoded relation — frozen
    // codebooks make the encode per-row, so deletion is just as local
    val pq = Ivf.buildPq(idx, m = 16, codebookSize = 32, nRows = 200L)
    def prows(p: Ivf.PqIndex) = p.encoded.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toList,
        r.getDouble(3))).toSet
    val rp = Ivf.retractPq(pq, removed)
    assert(prows(rp) == prows(pq).filter(t => !removedIds.contains(t._1)),
      "retractPq must drop exactly the removed vectors' code rows")
    assert(prows(Ivf.retractPq(Ivf.appendPq(pq, slice), removed)) ==
      prows(Ivf.appendPq(rp, slice)),
      "appendPq and retractPq must commute")
    // searchPq over the retracted index, rerank fetch-back from the
    // SURVIVOR corpus (the purge contract): no removed id, ever
    val sGot = Ivf.searchPq(rp, survivors, q, 10, nProbe = 2, rerank = 50)
      .select("vec_id").collect().map(_.getLong(0))
    assert(sGot.nonEmpty && sGot.forall(!removedIds.contains(_)),
      "retracted ids leaked from searchPq")
  }

  test("Ivf.recallAuditPq: the PQ retrain gauge separates planted drift from a healthy slice") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val old = emb.filter(col("vec_id") < 200)
    val idx = Ivf.build(old, nLists = 8, nRows = 200L)
    val pq = Ivf.buildPq(idx, m = 16, codebookSize = 32, nRows = 200L)
    def recall(p: Ivf.PqIndex, corpus: org.apache.spark.sql.DataFrame,
               q: org.apache.spark.sql.DataFrame, n: Long): Double =
      Ivf.recallAuditPq(p, corpus, q, k = 10, nProbe = 1, nRows = n)
        .head().getAs[Double]("recall")
    // healthy slice: frozen centroids + codebooks still fit data drawn
    // from the same distribution, so the retrain gain stays small
    val nat = emb.filter(col("vec_id") >= 200 && col("vec_id") < 300)
    val natQ = nat.filter(col("vec_id") < 220)
    val natCorpus = old.unionByName(nat)
    val natIdx = Ivf.build(natCorpus, nLists = 8, nRows = 300L)
    val gainNat =
      recall(Ivf.buildPq(natIdx, m = 16, codebookSize = 32, nRows = 300L),
        natCorpus, natQ, 300L) -
        recall(Ivf.appendPq(pq, nat), natCorpus, natQ, 300L)
    // planted drift: the n156 boundary-straddling cluster — members
    // split across frozen lists no single probe covers, AND their
    // residuals come from a region the codebooks never saw
    def d2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val cs = idx.centroids
    val (ca, cb) = (for (x <- cs; y <- cs if x._1 < y._1) yield (x, y))
      .maxBy { case (x, y) => d2(x._2, y._2) }
    val dim = ca._2.length
    val planted = (0 until 20).map { t =>
      val s = (if (t % 2 == 0) 1.0f else -1.0f) * (0.05f + 0.001f * t)
      (10000L + t, Array.tabulate(dim) { u =>
        (ca._2(u) + cb._2(u)) / 2 + s * (ca._2(u) - cb._2(u))
      })
    }.toDF("vec_id", "embedding")
    assert(Ivf.assignFrozen(planted, idx.centroids)
      .select("list_id").distinct().count() >= 2L,
      "drift fixture must split across frozen lists")
    val driftCorpus = old.unionByName(planted)
    val rDrift = recall(Ivf.appendPq(pq, planted), driftCorpus, planted, 220L)
    val retrainIdx = Ivf.build(driftCorpus, nLists = 8, nRows = 220L)
    val rRetrain = recall(
      Ivf.buildPq(retrainIdx, m = 16, codebookSize = 32, nRows = 220L),
      driftCorpus, planted, 220L)
    assert(rRetrain == 1.0,
      s"the refit must give the shifted cluster its own list: $rRetrain")
    assert(rRetrain - rDrift > 2.0 * math.max(gainNat, 0.0),
      s"the audit must separate drift (retrain gain ${rRetrain - rDrift}) " +
        s"from a healthy slice (gain $gainNat)")
  }

  test("Ivf.retrainAndRepublish: planted drift trips the bar and republishes atomically; a natural slice does not") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val old = emb.filter(col("vec_id") < 200)
    val idx = Ivf.build(old, nLists = 8, nRows = 200L)
    val pq = Ivf.buildPq(idx, m = 16, codebookSize = 32, nRows = 200L)
    // the drift fixture of the audit specs: a tight cluster straddling
    // the Voronoi boundary of the two most separated frozen centroids
    def d2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val cs = idx.centroids
    val (ca, cb) = (for (x <- cs; y <- cs if x._1 < y._1) yield (x, y))
      .maxBy { case (x, y) => d2(x._2, y._2) }
    val dim = ca._2.length
    val planted = (0 until 20).map { t =>
      val s = (if (t % 2 == 0) 1.0f else -1.0f) * (0.05f + 0.001f * t)
      (10000L + t, Array.tabulate(dim) { u =>
        (ca._2(u) + cb._2(u)) / 2 + s * (ca._2(u) - cb._2(u))
      })
    }.toDF("vec_id", "embedding")
    // --- drifted corpus: the weekly append landed, then maintenance ---
    val root = java.nio.file.Files.createTempDirectory("ann_maint").toString
    val v1 = Ivf.publishAnn(root,
      Ivf.append(idx, planted), Ivf.appendPq(pq, planted))
    assert(v1 == 1L)
    // the published family round-trips: centroids, codes and the
    // codebook blob read back bit-exactly (IEEE bits through the blob)
    val (rIdx, rPq) = Ivf.readAnn(spark, root)
    assert(rIdx.centroids.map(c => (c._1, c._2.toSeq)).toSeq ==
      idx.centroids.map(c => (c._1, c._2.toSeq)).toSeq)
    assert(rPq.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val driftCorpus = old.unionByName(planted)
    val m1 = Ivf.retrainAndRepublish(root, driftCorpus, planted,
      bar = 0.25, nLists = 8, m = 16, codebookSize = 32, nProbe = 1,
      nRows = 220L)
    assert(m1.retrained && m1.version.contains(2L),
      s"planted drift must trip the bar and republish: $m1")
    assert(m1.gain > 0.25 && m1.recallRetrained == 1.0,
      s"the refit must give the shifted cluster its own list: $m1")
    // post-republish, the read-back state serves correctly: the
    // retrained index's partial-probe recall is 1 on the drifted
    // queries, and PQ exhaustive-intent search over the published
    // codes equals the exact full-probe search (the n21/n158 law,
    // replayed from disk — codes, centroids and codebooks versioned
    // TOGETHER, so no mixed state can decode)
    val (pubIdx, pubPq) = Ivf.readAnn(spark, root)
    assert(Ivf.recallAudit(pubIdx, planted, k = 10, nProbe = 1)
      .head().getAs[Double]("recall") == 1.0)
    val probeQ = planted.filter(col("vec_id") < 10003L)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Ivf.searchPq(pubPq, driftCorpus, probeQ, k = 5,
        nProbe = 8, rerank = Ivf.rerankFor(220L))) ==
      pairs(Ivf.search(pubIdx, probeQ, k = 5, nProbe = 8)),
      "published PQ state at exhaustive intent must equal exact search")
    // --- natural slice: same machinery, gain stays under the bar ---
    val natural = emb.filter(col("vec_id") >= 200 && col("vec_id") < 220)
    val root2 = java.nio.file.Files.createTempDirectory("ann_maint_nat").toString
    Ivf.publishAnn(root2,
      Ivf.append(idx, natural), Ivf.appendPq(pq, natural))
    val m2 = Ivf.retrainAndRepublish(root2, old.unionByName(natural),
      natural, bar = 0.25, nLists = 8, m = 16, codebookSize = 32,
      nProbe = 1, nRows = 220L)
    assert(!m2.retrained && m2.version.isEmpty,
      s"a healthy slice must not trip the bar: $m2")
    assert(graft.sources.Manifest.currentVersion(root2).contains(1L),
      "no publish may land when the bar is not tripped")
  }

  test("the band index round-trips its production layout: partitioned parquet, band predicate prunes, dedup identical") {
    import spark.implicits._
    // the scaladoc's storage claim, proved: the index written
    // hive-partitioned by band (a) answers a per-band probe from
    // PartitionFilters — files of other bands are never opened — and
    // (b) drives the SAME dedup verdicts as the in-memory relation
    val a = "the alpine meadow stretches wide beneath a pale morning sky while marmots whistle across the scree"
    val b = "quantum solvers iterate over sparse matrices until the residual drops below machine epsilon thresholds"
    val old = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val incoming = Seq((11L, a + " x"), (12L, "entirely unrelated prose about harbor cranes loading containers at dawn"))
      .toDF("doc_id", "text")
    val index = Dedup.minhashBandIndex(old, k = 5, numHashes = 64, bands = 16)
    val dir = java.nio.file.Files.createTempDirectory("band-index").toString
    index.write.mode("overwrite").partitionBy("band").parquet(dir)
    val readBack = spark.read.parquet(dir)
      .select("doc_id", "band", "bucket") // partitionBy moved band last
    val scan = readBack.filter(col("band") === 3)
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[(.*?)\\]".r
      .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    assert(pf.contains("= 3"), s"band probe not pruned:\n$scan")
    def ids(idx: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalMinhashDedup(idx, old, incoming, k = 5,
          numHashes = 64, bands = 16, threshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(readBack) == Seq(12L) && ids(index) == Seq(12L),
      "the persisted index must drive identical verdicts")
  }

  test("incrementalEmbeddingDedup: equals batch embeddingDedup on the union; index holing leaks") {
    import spark.implicits._
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    def scaled(src: org.apache.spark.sql.DataFrame, offset: Long) = src
      .select((col("vec_id") + offset).as("vec_id"),
        transform(col("embedding"),
          x => (x * (lit(1.0) + lit(1e-6) * (col("vec_id") + 1))).cast("float"))
          .as("embedding"))
    val old = base.filter(col("vec_id") < 20)
    val incoming = base.filter(col("vec_id") >= 20 && col("vec_id") < 60)
      .unionAll(scaled(base.filter(col("vec_id") < 2), 1000L))   // near-dups of old 0/1
      .unionAll(scaled(base.filter(col("vec_id") === 21L), 2000L)) // within-slice dup of 21
    assert(disjointIds(old, incoming, "vec_id"), "precondition: slice ids are new")
    val index = Dedup.signBucketIndex(old, planes = 12, tables = 4)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val inc = ids(Dedup.incrementalEmbeddingDedup(index, old, incoming,
      threshold = 0.95, planes = 12, tables = 4))
    // planted cross dups (1000, 1001) and the within-slice dup (2021)
    // must be gone; the natural slice must be intact
    assert(!inc.contains(1000L) && !inc.contains(1001L) && !inc.contains(2021L))
    // THE law: equals batch embeddingDedup over the union restricted
    // to incoming rows (ingest-order id invariant holds: old < 20)
    val batch = ids(Dedup.embeddingDedup(old.unionAll(incoming),
        threshold = 0.95, planes = 12, tables = 4)
      .filter(col("vec_id") >= 20L))
    assert(inc == batch, "incremental must equal batch embeddingDedup on the union")
    // buckets are READ from the index: holing vec 1 out lets its
    // scaled copy 1001 through despite the corpus still carrying it
    val holed = index.filter(col("doc_id") =!= 1L)
    val leaked = ids(Dedup.incrementalEmbeddingDedup(holed, old, incoming,
      threshold = 0.95, planes = 12, tables = 4))
    assert(leaked.contains(1001L) && !leaked.contains(1000L),
      "a vector absent from the index must suppress nothing")
    // empty index degenerates to within-slice embeddingDedup
    val solo = ids(Dedup.incrementalEmbeddingDedup(index.filter(lit(false)),
      old.filter(lit(false)), incoming, threshold = 0.95, planes = 12, tables = 4))
    val soloBatch = ids(Dedup.embeddingDedup(incoming,
      threshold = 0.95, planes = 12, tables = 4))
    assert(solo == soloBatch)
  }

  test("minhashSliceDiffReport: buckets partition the slice; n_new equals incremental survivors; cross wins mixed evidence") {
    import spark.implicits._
    val a = "the alpine meadow stretches wide beneath a pale morning sky while marmots whistle across the scree"
    val b = "quantum solvers iterate over sparse matrices until the residual drops below machine epsilon thresholds"
    val c = "fermented tea leaves steep slowly in copper kettles as the market vendors argue about prices"
    val d = "distributed shuffle services spill partitioned buffers to local disks when executors exceed memory fractions"
    val old = Seq((1L, a, "s1"), (2L, a + " v2", "s1"), (3L, b, "s2"),
      (4L, c, "s2")).toDF("doc_id", "text", "source")
    val incoming = Seq(
      (101L, a + " tail", "s1"), // cross: near-dups old 1/2
      (102L, d, "s1"),           // new
      (103L, d + " x", "s2"),    // within: near-dups slice mate 102
      (104L, c + " y", "s2"),    // cross: near-dups old 4
      (105L, "totally different short text about engines here", "s2") // new
    ).toDF("doc_id", "text", "source")
    val index = Dedup.minhashBandIndex(old, k = 5, numHashes = 64, bands = 16)
    val rep = Dedup.minhashSliceDiffReport(index, old, incoming,
        groupCol = "source", k = 5, numHashes = 64, bands = 16,
        threshold = 0.5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rep("s1") == ((2L, 1L, 0L, 1L)), s"s1: ${rep("s1")}")
    assert(rep("s2") == ((3L, 1L, 1L, 1L)), s"s2: ${rep("s2")}")
    // the three buckets partition the slice exactly, per source
    rep.values.foreach { case (n, cr, wi, nw) => assert(n == cr + wi + nw) }
    // n_new per source equals the incrementalMinhashDedup survivor
    // count — the report can never disagree with the drop
    val survivors = Dedup.incrementalMinhashDedup(index, old, incoming,
        k = 5, numHashes = 64, bands = 16, threshold = 0.5)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep.map { case (s, t) => s -> t._4 } == survivors)
    // mixed evidence counts CROSS: a doc near-dupping both the corpus
    // and a slice mate (106 = another copy of c, pairing old 4 AND
    // slice 104) lands in n_cross_neardup, never double-counted
    val withMixed = incoming.unionAll(
      Seq((106L, c + " z", "s2")).toDF("doc_id", "text", "source"))
    val rep2 = Dedup.minhashSliceDiffReport(index, old, withMixed,
        groupCol = "source", k = 5, numHashes = 64, bands = 16,
        threshold = 0.5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rep2("s2") == ((4L, 2L, 1L, 1L)), s"s2 with mixed: ${rep2("s2")}")
  }

  test("word-trigram jaccard finds near-dups, threshold binds exactly") {
    // docs 1 vs 3 differ in one word of nine: 4 of 10 distinct word
    // trigrams shared -> jaccard exactly 0.4, so the pair appears at
    // threshold 0.35 and is cut at 0.5; unrelated doc 5 never pairs
    val lo = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.35).collect()
    val loKeys = lo.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loKeys.contains((1L, 2L)) && loKeys.contains((1L, 3L)))
    assert(!loKeys.exists(p => p._1 == 5L || p._2 == 5L))
    val j13 = lo.find(r => r.getLong(0) == 1L && r.getLong(1) == 3L).get.getDouble(2)
    assert(math.abs(j13 - 0.4) < 1e-12)
    val hi = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5).collect()
    val hiKeys = hi.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hiKeys.contains((1L, 2L)) && !hiKeys.contains((1L, 3L)))
    assert(hi.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get.getDouble(2) == 1.0)
  }

  test("jaccardPrefixJoin: exact, complete vs naive all-pairs, threshold binds") {
    // completeness law: prefix filtering must lose nothing vs the naive
    // quadratic all-pairs join at every threshold tried
    def naive(t: Double): Set[(Long, Long, Double)] = {
      val sets = docs.select(col("doc_id"), word_shingle_set(col("text"), 3).as("hs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = (sets(a) & sets(b)).size
        j = inter.toDouble / (sets(a).size + sets(b).size - inter)
        if j >= t
      } yield (a, b, j)).toSet
    }
    for (t <- Seq(0.35, 0.5, 0.9)) {
      val got = Dedup.jaccardPrefixJoin(docs, n = 3, threshold = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == naive(t), s"threshold $t: $got vs ${naive(t)}")
    }
    // 1 vs 3: one word of nine differs -> jaccard exactly 0.4
    val lo = Dedup.jaccardPrefixJoin(docs, n = 3, threshold = 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(lo((1L, 3L)) - 0.4) < 1e-12)
    assert(lo((1L, 2L)) == 1.0)
  }

  test("scriptMix counts scripts and breaks dominance ties as pinned") {
    import spark.implicits._
    val d = Seq(
      (1L, "hello world"),       // latin only
      (2L, "привет мир"),        // cyrillic only
      (3L, "你好"),               // han only
      (4L, "ab пр"),             // tie latin==cyrillic -> latin
      (5L, "пр 你好"),            // tie? cyr=2 han=2 -> cyrillic
      (6L, "123 456"),           // digits only -> none
      (7L, "")                   // empty -> none
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scriptMix(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toMap
    assert(out(1L) == ((10L, 0L, 0L, 0L, "latin")))
    assert(out(2L) == ((0L, 9L, 0L, 0L, "cyrillic")))
    assert(out(3L) == ((0L, 0L, 2L, 0L, "han")))
    assert(out(4L)._5 == "latin" && out(5L)._5 == "cyrillic")
    assert(out(6L) == ((0L, 0L, 0L, 6L, "none")) && out(7L)._5 == "none")
  }

  test("incrementalDedupBloom equals the plain anti-join (law), empty corpus ok") {
    import spark.implicits._
    val existing = Seq((10L, "alpha"), (12L, "beta")).toDF("doc_id", "text")
    val incoming = Seq(
      (101L, "alpha"),   // dup of corpus -> dropped
      (102L, "gamma"),   // new
      (103L, "gamma"),   // within-slice dup -> dropped
      (104L, "delta")    // new
    ).toDF("doc_id", "text")
    val digests = existing.select(md5(col("text")).as("__digest"))
    val bloom = Dedup.incrementalDedupBloom(digests, incoming)
      .collect().map(_.getLong(0)).sorted
    val plain = Dedup.incrementalDedupByDigests(digests, incoming)
      .collect().map(_.getLong(0)).sorted
    assert(bloom.toSeq == plain.toSeq && bloom.toSeq == Seq(102L, 104L))
    // empty published corpus: null sketch branch admits the whole
    // slice-deduped set
    val none = Dedup.incrementalDedupBloom(digests.limit(0), incoming)
      .collect().map(_.getLong(0)).sorted
    assert(none.toSeq == Seq(101L, 102L, 104L))
  }

  test("fuzzyTitlePairs: complete at dist<=1 (sub/ins/del), dist-2 excluded") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),    // dist 0
      (3L, "alpha beta gamba"),    // one substitution
      (4L, "alpha beta gamm"),     // one deletion
      (5L, "alpha beta gammax"),   // one insertion
      (6L, "alpha XXta gamba"),    // dist 2 from 1, dist 2 from 3
      (7L, "")                     // empty key pairs with nothing here
    ).toDF("doc_id", "text")
    val got = Dedup.fuzzyTitlePairs(d, keyLen = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // naive reference over all pairs
    val keys = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    val want = (for {
      a <- keys.keys; b <- keys.keys if a < b
      dist = lev(keys(a), keys(b)) if dist <= 1
    } yield (a, b) -> dist.toLong).toMap
    assert(got == want, s"$got vs $want")
    assert(got((1L, 2L)) == 0L && got((1L, 3L)) == 1L &&
      got((1L, 4L)) == 1L && got((1L, 5L)) == 1L)
    assert(!got.contains((1L, 6L)) && !got.keys.exists(p => p._1 == 7L || p._2 == 7L))
  }

  test("simhash: identical texts at distance 0, unrelated texts far") {
    val pairs = Dedup.simhashNearDups(docs, maxDistance = 3).collect()
    val d12 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(d12.isDefined && d12.get.getLong(2) == 0L)
  }

  test("token counting and subword counting (text analysis)") {
    val r = docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("t"),
        TextAnalysis.subwordCount(col("text")).as("s"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L) == (9L, 9L))
    assert(r(6L) == (0L, 0L))
  }

  test("language ID picks the lexicon with most hits") {
    val r = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == "en" && r(4L) == "de" && r(6L) == "und")
  }

  test("fingerprints are whitespace/case normalized") {
    import spark.implicits._
    val d2 = Seq((1L, "Hello  World"), (2L, " hello world ")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(d2).collect()
    assert(fp(0).getString(1) == fp(1).getString(1))   // md5
    assert(fp(0).getLong(2) == fp(1).getLong(2))       // rolling
  }

  test("cosine expression: identity 1.0, orthogonal 0.0, null-safe") {
    import spark.implicits._
    val df = Seq((Array(1f, 0f), Array(1f, 0f)), (Array(1f, 0f), Array(0f, 1f)))
      .toDF("a", "b")
    val r = df.select(cosine_similarity(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(r(0) - 1.0) < 1e-12 && math.abs(r(1)) < 1e-12)
  }

  test("brute-force top-k: self-similar corpus ranks by cosine desc") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 5)
    val rows = top.orderBy("rank").collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getLong(0) == 0L))
    val coss = rows.map(_.getDouble(2))
    assert(coss.sliding(2).forall(p => p(0) >= p(1))) // descending
    assert(!rows.map(_.getLong(1)).contains(0L))      // excludes self
  }

  test("LSH top-k recall against brute force is high on the fixture") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(emb, q, 5).select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // random-embedding "neighbors" are only mildly correlated (cos ~0.4),
    // so use short buckets and many tables: per-table hit ~p^4, p ~0.6
    val approx = Similarity.lshTopK(emb, q, 5, planes = 4, tables = 16)
      .select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("semantic dedup finds within-cluster near-dups, never cross-cluster pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    // 30 base vectors + a noisy copy of each (cos ~0.999): same planted
    // construction as the LSH test, but recall here must be EXACT — a
    // copy is cosine-identical to its original up to rounding, so both
    // always share an argmax-cosine cluster; no probabilistic miss
    val base = (0 until 30).map(i => i.toLong -> Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = base.flatMap { case (id, v) =>
      Seq((id, v), (id + 1000L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Similarity.allPairsExact(emb, 0.95)
      .select("vec_id_a", "vec_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = Dedup.semanticDedup(emb, k = 4, threshold = 0.95)
    val semPairs = sem.select("vec_id_a", "vec_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(semPairs.subsetOf(exact), "exact verification forbids false positives")
    assert(exact.filter(p => p._2 == p._1 + 1000L).subsetOf(semPairs),
      "planted copies share their original's cluster and must all be found")
    // every reported pair is within one cluster by construction
    val byCluster = sem.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(byCluster.nonEmpty)
    // the maxCluster guardrail drops over-dense clusters instead of
    // letting the pair explode go quadratic
    val capped = Dedup.semanticDedup(emb, k = 4, threshold = 0.95, maxCluster = 5)
    assert(capped.count() <= sem.count())
  }

  test("sign_buckets: matches the splitmix64 reference, plan is dim-independent") {
    import spark.implicits._
    // reference: the exact construction the codegen kernel must equal —
    // component = splitmix64(t*1000003 + p*8191 + i) / Long.Max as
    // float, dot accumulated left-to-right in double
    def ref(v: Array[Float], planes: Int, tables: Int): Seq[Long] =
      (0 until tables).map { t =>
        (0 until planes).foldLeft(0L) { (acc, p) =>
          var dot = 0.0
          for (i <- v.indices) {
            val h = graft.functions.Hashing.splitmix64(t.toLong * 1000003L + p.toLong * 8191L + i)
            dot += v(i).toDouble * (h.toDouble / Long.MaxValue.toDouble).toFloat.toDouble
          }
          if (dot >= 0.0) acc | (1L << p) else acc
        }
      }
    val rnd = new scala.util.Random(11L)
    val vecs = Seq.tabulate(5)(i => i.toLong -> Array.fill(64)(rnd.nextGaussian().toFloat))
    val out = Similarity.withSignBuckets(vecs.toDF("vec_id", "embedding"), "embedding",
        planes = 10, tables = 6)
      .select("vec_id", "table", "bucket").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq)
    for ((id, v) <- vecs)
      assert(out(id) == ref(v, 10, 6), s"vec $id buckets diverge from reference")
    // plan-size independence: a 512-dim input must not inline literal
    // hyperplane arrays (the former construction carried planes x
    // tables x dim float literals — megabytes of plan at this shape)
    val wide = Seq((1L, Array.fill(512)(0.5f))).toDF("vec_id", "embedding")
    val plan = Similarity.withSignBuckets(wide, "embedding", planes = 12, tables = 8)
      .queryExecution.analyzed.toString
    assert(plan.contains("sign_buckets"))
    assert(plan.length < 4000, s"plan unexpectedly large (${plan.length} chars)")
  }

  test("embedding near-dups: planted duplicates found, recall vs exact all-pairs") {
    import spark.implicits._
    // 40 random base vectors + a noisy copy of each (cos ~0.999): the
    // planted pairs are the ONLY pairs above 0.95, and sign-LSH with
    // 12 planes x 4 tables must recover nearly all of them (per-table
    // miss ~1 - (1 - theta/pi)^12 with theta ~2.6 deg => recall >0.999)
    val rnd = new scala.util.Random(7L)
    val base = (0 until 40).map(i => i.toLong -> Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = base.flatMap { case (id, v) =>
      val noisy = v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
      Seq((id, v), (id + 1000L, noisy))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Similarity.allPairsExact(emb, 0.95)
      .select("vec_id_a", "vec_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 40, s"fixture should plant >=40 near-dup pairs, got ${exact.size}")
    val lsh = Dedup.embeddingNearDups(emb, threshold = 0.95, planes = 12, tables = 4)
      .select("vec_id_a", "vec_id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "exact verification must forbid false positives")
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall too low")
    // the dedup wrapper drops exactly the higher id of every found pair
    val kept = Dedup.embeddingDedup(emb, threshold = 0.95, planes = 12, tables = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((0L until 40L).forall(kept.contains), "originals must survive dedup")
    assert(lsh.forall { case (_, b) => !kept.contains(b) },
      "every detected duplicate (higher id) must be dropped")
  }

  test("dup clusters: transitive chains collapse to the min id per component") {
    import spark.implicits._
    // two components: a chain 1-2-3 (no direct 1-3 pair) and a pair 7-9
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_id_a", "doc_id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // a longer chain exercises multi-iteration propagation (diameter 5)
    val chain = (0 until 5).map(i => (i.toLong, i + 1L)).toDF("doc_id_a", "doc_id_b")
    val c = Dedup.dupClusters(chain).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 5L).forall(c(_) == 0L))
    // reliable-checkpoint path (the cluster-reliability flavor): same
    // fixpoint when a checkpoint dir is configured — UNSET afterwards
    // (setCheckpointDir(null) = None) so the rest of the suite keeps
    // exercising the localCheckpoint fallback instead of silently
    // inheriting this dir
    val ckptDir = java.nio.file.Files.createTempDirectory("dupc-ckpt").toString
    try {
      spark.sparkContext.setCheckpointDir(ckptDir)
      val r = Dedup.dupClusters(pairs).collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(r == got)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("dupClusters: log-round chain convergence; disjoint chains never merge") {
    import spark.implicits._
    // the O(log d) claim, pinned: a diameter-249 chain converges under
    // 12 rounds with pointer jumping (distance covered doubles per
    // round: 2, 6, 14, ... 2^(k+1)-2 ≥ 249 at k = 7)
    val chain = (0 until 249).map(i => (i.toLong, i + 1L))
      .toDF("doc_id_a", "doc_id_b")
    val c = Dedup.dupClusters(chain, maxIter = 12).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c.size == 250)
    assert(c.values.forall(_ == 0L),
      "pointer jumping must collapse the 250-node chain within 12 rounds")
    // cross-component isolation: two disjoint chains never merge
    val two = ((0 until 9).map(i => (i.toLong, i + 1L)) ++
      (100 until 109).map(i => (i.toLong, i + 1L))).toDF("doc_id_a", "doc_id_b")
    val t2 = Dedup.dupClusters(two).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 9L).forall(t2(_) == 0L))
    assert((100L to 109L).forall(t2(_) == 100L))
  }

  test("dupClusters: releases its edge checkpoint; only the returned labels stay persisted") {
    import spark.implicits._
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_id_a", "doc_id_b")
    val before = sc.getPersistentRDDs.keySet
    val clusters = Dedup.dupClusters(pairs)
    // every superseded round and the edges are released; the result is
    // one materialized local checkpoint (no checkpoint dir is set here)
    val held = sc.getPersistentRDDs.keySet -- before
    assert(held.size == 1, s"dupClusters left ${held.size} persisted RDDs: $held")
    // a local checkpoint cannot recompute: the result must not depend
    // on the released edges
    assert(clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    held.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = false))
  }

  test("incrementalDupClusters: equals batch over the union for every slice-edge shape") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // published crawl: three clusters {1,2,3}, {7,9}, {20,21}
    val oldPairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (20L, 21L))
      .toDF("doc_id_a", "doc_id_b")
    val published = Dedup.dupClusters(oldPairs)
    // slice exercises all four edge shapes at once: new-new (50-51),
    // new-old (52 joins {7,9}), old-old ACROSS clusters (3-20 bridges
    // {1,2,3} and {20,21}), old-old WITHIN a cluster (1-3, no-op)
    val slice = Seq((50L, 51L), (52L, 9L), (3L, 20L), (1L, 3L))
      .toDF("doc_id_a", "doc_id_b")
    val inc = asMap(Dedup.incrementalDupClusters(published, slice))
    val batch = asMap(Dedup.dupClusters(oldPairs.unionAll(slice)))
    assert(inc == batch, "incremental must equal the batch fixpoint on the union")
    assert(inc(20L) == 1L && inc(21L) == 1L, "bridged clusters must merge to the union min")
    assert(inc(52L) == 7L && inc(50L) == 50L && inc(51L) == 50L)
    // a NEW doc with an id below every old member relabels the old
    // cluster to it (the merge map can point old reps at new ids)
    val low = Seq((0L, 9L)).toDF("doc_id_a", "doc_id_b")
    val incLow = asMap(Dedup.incrementalDupClusters(published, low))
    assert(incLow(7L) == 0L && incLow(9L) == 0L && incLow(0L) == 0L)
    // empty-assignment degeneracy: incremental from nothing IS batch
    val none = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    assert(asMap(Dedup.incrementalDupClusters(none, oldPairs)) ==
      asMap(Dedup.dupClusters(oldPairs)))
    // a slice entirely inside existing clusters changes nothing
    assert(asMap(Dedup.incrementalDupClusters(published,
      Seq((1L, 2L)).toDF("doc_id_a", "doc_id_b"))) == asMap(published))
  }

  test("retractFromClusters: component-local recompute equals the batch re-closure; bridges split") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one chain 0-1-2-3-4 (removing 2 splits it), one triangle-ish
    // cluster {7,8,9} losing a non-bridge member, one untouched {20,21}
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (7L, 8L), (8L, 9L), (7L, 9L), (20L, 21L)).toDF("doc_id_a", "doc_id_b")
    val published = Dedup.dupClusters(pairs)
    val removed = Seq(2L, 8L).toDF("doc_id")
    val got = asMap(Dedup.retractFromClusters(published, pairs, removed))
    // batch truth: re-close over edges whose BOTH endpoints survive
    val surviving = pairs.filter(col("doc_id_a") =!= 2L && col("doc_id_b") =!= 2L &&
      col("doc_id_a") =!= 8L && col("doc_id_b") =!= 8L)
    assert(got == asMap(Dedup.dupClusters(surviving)),
      "retraction must equal the batch closure over surviving edges")
    assert(got(0L) == 0L && got(1L) == 0L, "left chain segment keeps its min")
    assert(got(3L) == 3L && got(4L) == 3L, "right segment re-roots at ITS min — the split")
    assert(!got.contains(2L) && !got.contains(8L), "removed docs carry no row")
    assert(got(7L) == 7L && got(9L) == 7L, "the direct 7-9 edge keeps the cluster whole")
    assert(got(20L) == 20L && got(21L) == 20L, "untouched clusters pass through verbatim")
    // a survivor whose EVERY edge touched a removed doc drops out
    // (matches batch: no edge, no row)
    val star = Seq((30L, 31L), (30L, 32L)).toDF("doc_id_a", "doc_id_b")
    val starGone = asMap(Dedup.retractFromClusters(
      Dedup.dupClusters(star), star, Seq(30L).toDF("doc_id")))
    assert(!starGone.contains(31L) && !starGone.contains(32L))
    // lifecycle chaining: retract-then-append equals batch on
    // survivors' edges plus the slice (the n154 law, cluster edition)
    val slice = Seq((4L, 40L), (9L, 41L)).toDF("doc_id_a", "doc_id_b")
    val chained = asMap(Dedup.incrementalDupClusters(
      Dedup.retractFromClusters(published, pairs, removed), slice))
    assert(chained == asMap(Dedup.dupClusters(surviving.unionAll(slice))),
      "retract-then-append must equal the from-scratch rebuild")
  }

  test("profile: exact counts hand-checked, HLL path within sketch error") {
    import spark.implicits._
    val d = Seq((1L, "a"), (2L, "b"), (3L, null), (4L, "a"))
      .toDF("id", "s")
    val exact = Profile.profile(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(exact("id") == (4L, 0L, 4L))
    assert(exact("s") == (4L, 1L, 2L)) // one null; distinct ignores it
    // the 100 TB flavor: fixed-size HLL sketches instead of a
    // distinct-value shuffle — within the default rsd (5%), and exact
    // in practice at these cardinalities
    val approx = Profile.profile(d, exact = false).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(math.abs(approx("id") - 4L) <= 1)
    assert(math.abs(approx("s") - 2L) <= 1)
    // larger cardinality: relative error bound holds on real data
    val docs01 = spark.read.parquet(s"$sf/documents.parquet")
    val ex = Profile.profile(docs01, Seq("doc_id")).collect()(0).getLong(3)
    val ap = Profile.profile(docs01, Seq("doc_id"), exact = false).collect()(0).getLong(3)
    assert(math.abs(ap - ex).toDouble / ex <= 0.1, s"HLL err: exact $ex approx $ap")
  }

  test("cardState lifecycle: merge equals union, retract equals survivors, interleavings commute") {
    import spark.implicits._
    def mkDocs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "lang", "text")
    val a = mkDocs((1L, "en", "one two three"), (2L, "de", "eins zwei"),
      (3L, "en", ""), (6L, "xx", ""))
    val b = mkDocs((4L, "en", "four five six seven"), (5L, "fr", "un"))
    def st(df: org.apache.spark.sql.DataFrame) =
      Profile.cardState(df, bins = 8, lo = 0L, hi = 16L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sorted.toSeq
    // merge law: shard states add to the union's from-scratch state
    val merged = Profile.mergeCardStates(st(a), st(b))
    assert(rows(merged) == rows(st(a.unionAll(b))))
    // hand-check a few rows: 3 en docs (1,3,4), tokens 3+0+4; the
    // empty doc counts as a doc with 0 tokens in bin 0
    val m = rows(merged).map(t => (t._1, t._2) -> t._3).toMap
    assert(m(("lang_docs", "en")) == 3L && m(("lang_tokens", "en")) == 7L)
    assert(m(("tok_bin", "0")) == 4L) // tk 0 (docs 3,6), 1, 2 all bin 0 at width 3
    // a language whose EVERY text is empty: the doc count row exists,
    // the zero token-sum row is ABSENT on both the merged and the
    // from-scratch side (zero is the absent row — the convention that
    // keeps merge ≡ rebuild)
    assert(m(("lang_docs", "xx")) == 1L)
    assert(!m.contains(("lang_tokens", "xx")))
    // retraction: subtracting the removed docs' own shard state lands
    // on the survivors' from-scratch state; fully-freed keys vanish
    val survivors = a.unionAll(b).filter($"doc_id" =!= 5L)
    val retracted = Profile.retractCardState(merged,
      b.filter($"doc_id" === 5L), bins = 8, lo = 0L, hi = 16L)
    assert(rows(retracted) == rows(st(survivors)))
    assert(!rows(retracted).exists(_._2 == "fr"), "freed lang key must vanish")
    // append/retract commute: retract-then-merge == merge-then-retract
    val other = Profile.mergeCardStates(
      Profile.retractCardState(st(a), a.filter($"doc_id" === 2L),
        bins = 8, lo = 0L, hi = 16L), st(b))
    val expect = st(a.filter($"doc_id" =!= 2L).unionAll(b))
    assert(rows(other) == rows(expect))
    // clamping: an over-range token count is recorded AS hi and lands
    // in hi's own bin (16 div 3 = 5 at width 3) — never in a bin whose
    // bracket it would falsify
    val big = mkDocs((9L, "en", Seq.fill(99)("w").mkString(" ")))
    val bs = rows(st(big)).map(t => (t._1, t._2) -> t._3).toMap
    assert(bs(("tok_bin", "5")) == 1L, "99 tokens > hi 16 must clamp to hi's bin")
    // a retraction with mismatched edges corrupts counts negative —
    // cardFromState refuses to render such a state
    val bad = Profile.retractCardState(st(big), big, bins = 4, lo = 0L, hi = 16L)
    assertThrows[IllegalArgumentException](
      Profile.cardFromState(bad, Seq(0.5), bins = 4, lo = 0L, hi = 16L).collect())
  }

  test("cardFromState: exact fields match dataCard, quantile bracket contains the exact percentile") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val state = Profile.cardState(docs)
    val card = Profile.cardFromState(state, Seq(0.5))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val reference = Profile.dataCard(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // exact fields agree with the rescan card
    assert(card(("corpus", "n_docs")) == reference(("corpus", "n_docs")))
    assert(card(("corpus", "n_tokens")) == reference(("corpus", "n_tokens")))
    val langs = reference.keys.filter(_._1 == "lang")
    assert(langs.nonEmpty && langs.forall(k => card(k) == reference(k)))
    // the bracket honestly contains the CLAMPED rank-ceil(q·n) order
    // statistic (the bracket's own rank convention — dataCard's
    // INTERPOLATED percentile may legitimately fall between brackets
    // on a gappy distribution, so the order statistic is the law; the
    // state records out-of-range values as lo/hi, hence the clamp)
    val tks = docs.select(TextAnalysis.tokenCount(col("text")).as("tk"))
      .collect().map(_.getLong(0)).sorted
    val exactP50 = math.min(4096L, math.max(0L,
      tks(math.max(math.ceil(0.5 * tks.length).toLong, 1L).toInt - 1)))
    assert(card(("quality", "p50_tokens_lo")) <= exactP50 &&
      exactP50 <= card(("quality", "p50_tokens_hi")),
      s"bracket [${card(("quality", "p50_tokens_lo"))}, " +
        s"${card(("quality", "p50_tokens_hi"))}] must contain $exactP50")
  }

  test("stratified sampling: per-stratum rates, subset of full sample, stable") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val frac = Map("en" -> 0.5, "de" -> 0.2)
    val s1 = Sampling.stratifiedSample(d, "doc_id", "lang", frac, defaultFraction = 0.1)
    val s2 = Sampling.stratifiedSample(d.repartition(7), "doc_id", "lang", frac, 0.1)
    // partition-layout invariance
    assert(s1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      s2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // every stratum's kept set is exactly the plain sample at its rate
    // restricted to the stratum (the same hash rule decides both)
    for ((lang, f) <- frac + ("fr" -> 0.1)) {
      val inStrat = s1.filter(col("lang") === lang)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val plain = Sampling.deterministicSample(d.filter(col("lang") === lang), "doc_id", f)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(inStrat == plain, s"stratum $lang")
    }
  }

  test("repetition features: duplicate words raise the ratio; blanks are zero") {
    val r = TextAnalysis.repetitionFeatures(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    // doc 1: 9 words, "the" twice -> 8 distinct
    assert(r(1L) == (9L, 8L, 1.0 - 8.0 / 9.0))
    assert(r(6L) == (0L, 0L, 0.0)) // empty text
    assert(r(5L)._3 == 0.0)        // all-distinct doc
  }

  test("top-word share: most frequent word's fraction; empty docs drop out") {
    val r = TextAnalysis.topWordShare(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == (9L, 2L, 2.0 / 9.0)) // "the" twice of 9 words
    assert(!r.contains(6L))              // empty text has no words
    assert(r(5L)._2 == 1L)               // all-distinct doc
  }

  test("PII redaction replaces emails/IPs/ids/phones and counts per category") {
    import spark.implicits._
    val d = Seq(
      (1L, "reach me at jane.doe+spam@mail.example.org or 192.168.1.250 thanks"),
      (2L, "ssn 123-45-6789 and phone 555.867.5309 twice: 555-867-5309"),
      (3L, "clean text with a version number 1.2 and year 2024"),
      (4L, "")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[String]("text_redacted") == "reach me at <EMAIL> or <IP> thanks")
    assert(r(1L).getAs[Long]("n_emails") == 1L && r(1L).getAs[Long]("n_ips") == 1L)
    assert(r(2L).getAs[String]("text_redacted") == "ssn <ID> and phone <PHONE> twice: <PHONE>")
    assert(r(2L).getAs[Long]("n_ids") == 1L && r(2L).getAs[Long]("n_phones") == 2L)
    // version numbers / years / empty text never fire
    assert(r(3L).getAs[String]("text_redacted") == r(3L).getAs[String]("text"))
    assert(Seq(3L, 4L).forall { i =>
      Seq("n_emails", "n_ips", "n_ids", "n_phones").forall(c => r(i).getAs[Long](c) == 0L)
    })
  }

  test("n-gram contamination flags planted benchmark overlap, ignores clean docs") {
    import spark.implicits._
    val evalSet = Seq((100L, "the capital of france is paris obviously")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "we know the capital of france is paris and more"), // contains a shared 5-gram
      (2L, "completely unrelated words about query engines and shuffles"),
      (3L, "tiny doc")                                          // < 5 words: no grams
    ).toDF("doc_id", "text")
    val r = TextAnalysis.ngramContamination(train, evalSet, 5)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L)._2 >= 1, "planted overlap must be flagged")
    assert(r(2L)._2 == 0)
    assert(!r.contains(3L), "sub-n docs have no grams and drop out")
    // gram counts: n words -> n - 4 distinct grams (10 -> 6, 8 -> 4)
    assert(r(1L)._1 == 6 && r(2L)._1 == 4)
    // the two planted shared grams: "the capital of france is",
    // "capital of france is paris"
    assert(r(1L)._2 == 2)
  }

  test("contaminationAgainstIndex: publish-then-probe equals ngramContamination; bloom pruned equals unpruned") {
    import spark.implicits._
    val evalSet = Seq(
      (100L, "the capital of france is paris obviously"),
      (101L, "a second benchmark question about rivers in egypt today")
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, "we know the capital of france is paris and more"),
      (2L, "completely unrelated words about query engines and shuffles"),
      (3L, "tiny doc"),
      (4L, "rivers in egypt today are long the capital of france is paris")
    ).toDF("doc_id", "text")
    val index = TextAnalysis.benchmarkGramIndex(evalSet, 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    val viaIndex = rows(TextAnalysis.contaminationAgainstIndex(train, index, 5))
    // the headline law: the published index reproduces the
    // recompute-both-sides operator row-for-row
    assert(viaIndex == rows(TextAnalysis.ngramContamination(train, evalSet, 5)),
      "index probe must equal ngramContamination exactly")
    // bloom pre-prune: no false negatives + semi-join re-check =>
    // identical output
    val bloom = TextAnalysis.benchmarkGramBloom(index)
    assert(rows(TextAnalysis.contaminationAgainstIndex(train, index, 5,
      Some(bloom))) == viaIndex, "bloom-pruned must equal unpruned")
    // empty index: nothing shared, everything scores 0
    val emptyIdx = Seq.empty[String].toDF("gram")
    val z = rows(TextAnalysis.contaminationAgainstIndex(train, emptyIdx, 5,
      Some(TextAnalysis.benchmarkGramBloom(emptyIdx))))
    assert(z.forall(t => t._3 == 0L && t._4 == 0.0))
  }

  test("decontaminateAgainstIndex: any-hit drop at 0, threshold keeps partial overlap, gram-less docs survive") {
    import spark.implicits._
    val evalSet = Seq((100L, "the capital of france is paris obviously"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "we know the capital of france is paris and more"),
      (2L, "completely unrelated words about query engines and shuffles"),
      (3L, "tiny doc")
    ).toDF("doc_id", "text")
    val index = TextAnalysis.benchmarkGramIndex(evalSet, 5)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // maxContamination 0: the planted-overlap doc drops; the clean doc
    // and the sub-n (gram-less, unflaggable) doc survive
    assert(ids(TextAnalysis.decontaminateAgainstIndex(train, index, 5)) ==
      Set(2L, 3L))
    // doc 1 shares 2 of its 6 grams (1/3): a threshold above that
    // keeps it, one below drops it
    assert(ids(TextAnalysis.decontaminateAgainstIndex(train, index, 5,
      maxContamination = 0.5)) == Set(1L, 2L, 3L))
    assert(ids(TextAnalysis.decontaminateAgainstIndex(train, index, 5,
      maxContamination = 0.1)) == Set(2L, 3L))
    // survivors union flagged == train (the filter partitions)
    val survivors = ids(TextAnalysis.decontaminateAgainstIndex(train, index, 5))
    val flagged = ids(TextAnalysis.contaminationAgainstIndex(train, index, 5)
      .filter($"contamination" > 0.0))
    assert((survivors ++ flagged) == Set(1L, 2L, 3L) && (survivors & flagged).isEmpty)
  }

  test("driver-side lloyd k-means separates well-separated clusters") {
    val rnd = new scala.util.Random(3L)
    // two tight blobs around (0,0..) and (10,10..)
    val data = Array.tabulate(200) { i =>
      val base = if (i % 2 == 0) 0f else 10f
      Array.fill(4)(base + 0.1f * rnd.nextGaussian().toFloat)
    }
    val centers = Ivf.lloyd(data, k = 2, iters = 10, seed = 1L)
    val means = centers.map(_.sum / 4)
    assert(means.exists(m => math.abs(m) < 1.0) && means.exists(m => math.abs(m - 10.0) < 1.0))
  }

  test("IVF-PQ: full probe + wide rerank reproduces brute-force top-k (n21 oracle guard)") {
    // guards n21's shared brute-force oracle at both the spec fixture
    // scale and the driver's sf0.01 oracle scale: the true top-10 must
    // sit inside the PQ shortlist so exact re-ranking recovers it
    for (dir <- Seq(sf, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      if (new java.io.File(s"$dir/embeddings.parquet").exists()) {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val q = emb.filter(col("vec_id") < 5)
        val n = emb.count()
        val idx = Ivf.build(emb, nLists = 8, nRows = n)
        val pq = Ivf.buildPq(idx, m = 16, codebookSize = 32, nRows = n)
        val got = Ivf.searchPq(pq, emb, q, 10, nProbe = 8,
            rerank = Ivf.rerankFor(n))
          .select("query_id", "vec_id", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        val want = Similarity.bruteForceTopK(emb, q, 10)
          .select("query_id", "vec_id", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        assert(got == want, s"$dir: PQ full-probe top-k diverged from brute force")
      }
    }
  }

  test("IVF-PQ: tight budget (partial probe, short rerank) keeps useful recall") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val idx = Ivf.build(emb, nLists = 8)
    val pq = Ivf.buildPq(idx, m = 16, codebookSize = 32)
    val got = Ivf.searchPq(pq, emb, q, 5, nProbe = 4, rerank = 20)
      .select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Similarity.bruteForceTopK(emb, q, 5).select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (want intersect got).size.toDouble / want.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("n14 fixture assumption: no organic pairs at 0.8; planted pairs all found") {
    // n14's oracle is exact all-pairs over fixture + planted rows. Two
    // assumptions make the hash compare safe: (1) the fixture alone has
    // no pair at cosine >= 0.8 (an organic pair in [0.8, ~0.99) could be
    // missed by the 8-plane/8-table LSH); (2) the planted scaled copies
    // collide in every table (positive scaling preserves hyperplane
    // signs), so LSH recall on the planted set is exactly 1. Checked at
    // both the spec fixture scale and the driver's sf0.01 oracle scale.
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      if (new java.io.File(s"$dir/embeddings.parquet").exists()) {
        val base = spark.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding")
        val organic = Similarity.allPairsExact(base, 0.8).count()
        assert(organic == 0, s"$dir has $organic organic pairs at 0.8 — " +
          "the n14 LSH/oracle equality is no longer guaranteed")
        // replicate the n14 planted construction and require exactly the
        // three (orig, copy) pairs back, each at cos ~1
        val planted = base.filter(col("vec_id") < 3)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"),
              x => (x * (lit(1.0) + lit(1e-6) * (col("vec_id") + 1))).cast("float"))
              .as("embedding"))
        val got = Dedup.embeddingNearDups(base.unionAll(planted), threshold = 0.8,
            planes = 8, tables = 8, dim = 64)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        val pairs = got.map(t => (t._1, t._2)).toSet
        assert(pairs == Set((0L, 1000000L), (1L, 1000001L), (2L, 1000002L)),
          s"$dir planted pairs mismatch: ${pairs.toSeq.sorted}")
        assert(got.forall(_._3 > 0.999), "planted copies should be near-identical")
      }
    }
  }

  test("deterministic sampling: stable membership, near-target rate, disjoint split") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val s1 = Sampling.deterministicSample(d, "doc_id", 0.3)
    val s2 = Sampling.deterministicSample(d.repartition(7), "doc_id", 0.3)
    assert(s1.select("doc_id").except(s2.select("doc_id")).count() == 0)
    val rate = s1.count().toDouble / d.count()
    assert(rate > 0.15 && rate < 0.45, s"rate $rate")
    // growing the fraction only ADDS rows (nested samples)
    val s5 = Sampling.deterministicSample(d, "doc_id", 0.5)
    assert(s1.select("doc_id").except(s5.select("doc_id")).count() == 0)
    val (train, eval) = Sampling.split(d, "doc_id", 0.1)
    assert(train.count() + eval.count() == d.count())
    assert(train.select("doc_id").intersect(eval.select("doc_id")).count() == 0)
  }

  test("IVF index: probing more lists converges to brute-force recall") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(emb, q, 5).select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = Ivf.build(emb, nLists = 8)
    def recall(nProbe: Int): Double = {
      val got = Ivf.search(idx, q, 5, nProbe).select("query_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val r2 = recall(2); val r8 = recall(8)
    assert(r8 == 1.0, s"full probe must equal brute force, got $r8")
    assert(r2 <= r8)
  }

  test("multimodal plumbing: schema, deterministic stub, frame sampling") {
    val media = Multimodal.mediaFromDocuments(docs)
    val feats = Multimodal.extractFeatures(media)
    val rows = feats.collect()
    assert(rows.length == 6)
    assert(rows.forall(_.feature.length == 8))
    val again = Multimodal.extractFeatures(media).collect()
    assert(rows.map(_.checksum).toSeq == again.map(_.checksum).toSeq)
    val frames = Multimodal.sampleFrames(feats, stride = 10)
    assert(frames.columns.contains("frame_idx"))
    assert(frames.filter(col("media_type") =!= "video").count() == 0)
    // batched path is semantically identical to the per-row path
    val batched = Multimodal.extractFeaturesBatched(media, batchSize = 2).collect()
    assert(batched.sortBy(_.media_id).map(_.checksum).toSeq ==
      rows.sortBy(_.media_id).map(_.checksum).toSeq)
    // resize plan: aspect preserved, no upscaling, images only
    val rp = Multimodal.resizePlan(feats, maxEdge = 64).collect()
    assert(rp.nonEmpty)
    rp.foreach { r =>
      val (w, h) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
      val (tw, th) = (r.getAs[Int]("target_w"), r.getAs[Int]("target_h"))
      assert(math.max(tw, th) <= 65 && tw <= w && th <= h)
    }
  }

  test("image header decode: PNG/GIF/BMP/JPEG/WebP round-trip, garbage falls back") {
    // build header -> parse back must recover the encoded dims exactly,
    // including multi-byte values that exercise endianness on each path
    for ((w, h) <- Seq((16, 16), (640, 480), (1015, 158), (70000, 3))) {
      if (w <= 65535) { // GIF/JPEG dims are u16
        assert(Multimodal.headerDims(Multimodal.gifHeader(w, h)) == Some((w, h)), s"gif $w x $h")
        assert(Multimodal.headerDims(Multimodal.jpegHeader(w, h)) == Some((w, h)), s"jpeg $w x $h")
      }
      if (w <= 16384 && h <= 16384) // VP8L dims are 14-bit
        assert(Multimodal.headerDims(Multimodal.webpHeader(w, h)) == Some((w, h)), s"webp $w x $h")
      assert(Multimodal.headerDims(Multimodal.pngHeader(w, h)) == Some((w, h)), s"png $w x $h")
      assert(Multimodal.headerDims(Multimodal.bmpHeader(w, h)) == Some((w, h)), s"bmp $w x $h")
    }
    // a JPEG whose SOF sits behind APP0/COM segments still parses (the
    // marker walk skips length-carrying segments), and one with scan
    // data before any SOF falls back
    val app0 = Array(0xff, 0xe0, 0x00, 0x10).map(_.toByte) ++ new Array[Byte](14)
    val com = Array(0xff, 0xfe, 0x00, 0x05).map(_.toByte) ++ "abc".getBytes("US-ASCII")
    val jpegBody = Multimodal.jpegHeader(321, 123)
    val shifted = jpegBody.take(2) ++ app0 ++ com ++ jpegBody.drop(2)
    assert(Multimodal.headerDims(shifted) == Some((321, 123)))
    val sosFirst = jpegBody.take(2) ++ Array(0xff, 0xda, 0x00, 0x02).map(_.toByte)
    assert(Multimodal.headerDims(sosFirst).isEmpty)
    // a legal fill byte (extra 0xFF) before a marker must not desync
    // the walk (ITU T.81 B.1.1.2)
    val filled = jpegBody.take(2) ++ Array(0xff.toByte) ++ jpegBody.drop(2)
    assert(Multimodal.headerDims(filled) == Some((321, 123)))
    // trailing payload after the header must not disturb the parse
    val withTail = Multimodal.pngHeader(33, 44) ++ "trailing text".getBytes("UTF-8")
    assert(Multimodal.headerDims(withTail) == Some((33, 44)))
    // top-down BMP stores negative height; dimension is the magnitude
    val bmpNeg = Multimodal.bmpHeader(12, -34)
    assert(Multimodal.headerDims(bmpNeg) == Some((12, 34)))
    // non-image payloads: None -> decode falls back to the FNV stub
    assert(Multimodal.headerDims("just some text".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.headerDims(Array.emptyByteArray).isEmpty)
    assert(Multimodal.headerDims("GIF8".getBytes("UTF-8")).isEmpty) // truncated magic
  }

  test("mp4FrameOffsets: contiguous ranges from real stsz/stco, meta coexists") {
    val sizes = Array(120, 250, 101, 333)
    val p = Multimodal.mp4HeaderWithSizes(1000, 5000L, sizes)
    val offs = Multimodal.mp4FrameOffsets(p).get
    assert(offs.length == 4)
    // ranges are contiguous and start exactly at the mdat payload
    assert(offs(0)._1 == 212 + 4 * sizes.length)
    for (i <- offs.indices) assert(offs(i)._2 == sizes(i).toLong)
    for (i <- 1 until offs.length)
      assert(offs(i)._1 == offs(i - 1)._1 + offs(i - 1)._2, s"gap at $i")
    // the metadata walk still reads the same file (count from stsz)
    assert(Multimodal.mp4Meta(p).exists { case (ts, dur, n) =>
      ts == 1000 && dur == 5000L && n == 4 })
    // no stco (the plain fixture) -> no offset table, meta still fine
    val plain = Multimodal.mp4Header(1000, 5000L, 7, 64)
    assert(Multimodal.mp4FrameOffsets(plain).isEmpty)
    assert(Multimodal.mp4Meta(plain).exists(_._3 == 7))
  }

  test("wavSamples + audioStats: sign extension, pinned zero-crossing rule, rejects") {
    import spark.implicits._
    def wavOf(samples: Seq[Int], sr: Int = 8000, ch: Int = 1): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(s => bb.putShort(s.toShort))
      Multimodal.wavHeader(sr, ch, 16, samples.length * 2) ++ bb.array()
    }
    // round-trip with negatives (sign extension) and extremes
    val vals = Seq(0, 1, -1, 32767, -32768, 12345, -12345)
    assert(Multimodal.wavSamples(wavOf(vals)).exists(_._3.toSeq == vals))
    // 8-bit WAV rejected (PCM-16 only); truncated header rejected
    assert(Multimodal.wavSamples(Multimodal.wavHeader(8000, 1, 8, 4) ++
      Array[Byte](1, 2, 3, 4)).isEmpty)
    assert(Multimodal.wavSamples(wavOf(vals).take(20)).isEmpty)
    // audioStats: hand-computed, zero sample counts as positive
    val media = Seq((1L, "audio", wavOf(Seq(3, -2, 0, -5)), "t"))
      .toDF("media_id", "media_type", "payload", "meta_source")
    val r = Multimodal.audioStats(media).collect()(0)
    assert(r.getLong(2) == 4L)                       // n_samples
    assert(r.getLong(3) == 5L)                       // peak
    assert(r.getLong(4) == (9L + 4 + 0 + 25) / 4)    // mean_square
    // signs: + - + - => 3 crossings (0 is positive by the pinned rule)
    assert(r.getLong(5) == 3L)
  }

  test("resamplePcm: identity, integer-factor upsample law, floor-div pin, stats chain") {
    import spark.implicits._
    // identity: same rate returns the samples unchanged
    val s = Array(100, -200, 0, 32767, -32768, 7)
    assert(Multimodal.resamplePcm(s, 8000, 8000).toSeq == s.toSeq)
    // integer-factor upsample preserves originals at the factor grid
    val up = Multimodal.resamplePcm(s, 8000, 24000)
    assert(up.length == (s.length - 1) * 3 + 1)
    for (j <- s.indices) assert(up(j * 3) == s(j), s"grid point $j")
    // hand-check interpolation with NEGATIVE values: between 100 and
    // -200 at frac 1/3: floor((100*2 + -200*1)/3) = floor(0/3) = 0,
    // at frac 2/3: floor((100*1 + -200*2)/3) = floor(-300/3) = -100
    assert(up(1) == 0 && up(2) == -100)
    // floor-division pin (truncation would give -33): between 0 and
    // -100 at frac 1/3: floor(-100/3) = -34
    val neg = Multimodal.resamplePcm(Array(0, -100), 1000, 3000)
    assert(neg.toSeq == Seq(0, -34, -67, -100))
    // downsample: every 2nd sample at half rate
    assert(Multimodal.resamplePcm(s, 8000, 4000).toSeq ==
      Seq(s(0), s(2), s(4)))
    // end-to-end: resampledAudioStats equals stats of resamplePcm output
    def wavOf(samples: Seq[Int]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(v => bb.putShort(v.toShort))
      Multimodal.wavHeader(8000, 1, 16, samples.length * 2) ++ bb.array()
    }
    val media = Seq((1L, "audio", wavOf(s.toSeq), "t"))
      .toDF("media_id", "media_type", "payload", "meta_source")
    val r2 = Multimodal.resampledAudioStats(media, 12000).collect()(0)
    val want = Multimodal.resamplePcm(s, 8000, 12000)
    assert(r2.getLong(3) == want.length.toLong)
    assert(r2.getLong(4) == want.map(v => math.abs(v.toLong)).max)
    assert(r2.getLong(5) == want.map(v => v.toLong * v).sum / want.length)
    // stereo rows drop (mono-only contract)
    val stereo = Seq((2L, "audio",
        Multimodal.wavHeader(8000, 2, 16, 8) ++ new Array[Byte](8), "t"))
      .toDF("media_id", "media_type", "payload", "meta_source")
    assert(Multimodal.resampledAudioStats(stereo, 12000).count() == 0)
  }

  test("exifOrientation: both byte orders, non-first entry, rejects, dims coexist") {
    def jpegWithApp1(app1: Array[Byte]): Array[Byte] = {
      val j = Multimodal.jpegHeader(321, 123)
      j.take(2) ++ app1 ++ j.drop(2)
    }
    for (o <- 1 to 8; le <- Seq(true, false)) {
      val p = jpegWithApp1(Multimodal.exifApp1(o, le))
      assert(Multimodal.exifOrientation(p) == Some(o), s"o=$o le=$le")
      // the dims walk must skip the APP1 the EXIF walk enters
      assert(Multimodal.headerDims(p) == Some((321, 123)))
    }
    // orientation as the SECOND IFD entry (a make-note tag first)
    val two = {
      val bb = java.nio.ByteBuffer.allocate(48)
      bb.putShort(0xffe1.toShort).putShort(46)
      bb.put("Exif".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
      bb.putShort(0x4d4d.toShort).putShort(42).putInt(8) // MM
      bb.putShort(2)
      bb.putShort(0x010f.toShort).putShort(2).putInt(4).putInt(0) // Make, ASCII
      bb.putShort(0x0112.toShort).putShort(3).putInt(1)
      bb.putShort(6.toShort).putShort(0)
      bb.putInt(0)
      bb.array()
    }
    assert(Multimodal.exifOrientation(jpegWithApp1(two)) == Some(6))
    // rejects: plain JPEG (no APP1), bad TIFF magic, out-of-range value
    assert(Multimodal.exifOrientation(Multimodal.jpegHeader(10, 10)).isEmpty)
    val badMagic = jpegWithApp1(Multimodal.exifApp1(3, littleEndian = true))
    badMagic(12) = 'X'.toByte // clobber "II"
    assert(Multimodal.exifOrientation(badMagic).isEmpty)
    val badVal = {
      val a = Multimodal.exifApp1(1, littleEndian = false)
      a(28) = 0; a(29) = 9 // orientation 9 (BE value bytes at offset 28)
      jpegWithApp1(a)
    }
    assert(Multimodal.exifOrientation(badVal).isEmpty)
  }

  test("bmpGray pixel decode: round-trip, stride, top-down rows, luma, rejects") {
    val rnd = new scala.util.Random(7)
    // round-trip across widths that exercise every stride remainder
    for ((w, h) <- Seq((9, 8), (10, 3), (7, 5), (16, 16), (11, 2))) {
      val gray = Array.fill(w * h)(rnd.nextInt(256))
      val dec = Multimodal.bmpGray(Multimodal.bmpPixelBytes(w, h, gray))
      assert(dec.exists { case (dw, dh, dg) =>
        dw == w && dh == h && dg.sameElements(gray) }, s"$w x $h round-trip")
    }
    // top-down variant: negative height + reversed file rows must
    // decode to the SAME image as the bottom-up original
    val gray = Array.tabulate(9 * 8)(i => (i * 7) % 256)
    val up = Multimodal.bmpPixelBytes(9, 8, gray)
    val stride = 28
    val down = up.clone()
    java.nio.ByteBuffer.wrap(down).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, -8)
    for (y <- 0 until 8)
      System.arraycopy(up, 54 + (8 - 1 - y) * stride, down, 54 + y * stride, stride)
    assert(Multimodal.bmpGray(down).exists(_._3.sameElements(gray)))
    // non-gray pixel: integer ITU-R 601 luma (299R + 587G + 114B) / 1000
    val one = Multimodal.bmpPixelBytes(9, 8, new Array[Int](72))
    one(54) = 10; one(55) = 20; one(56) = 30 // B G R of image pixel (0, 7)
    assert(Multimodal.bmpGray(one).exists(_._3(7 * 9) == 21))
    // rejects: truncated pixel data, non-24bpp, compressed
    assert(Multimodal.bmpGray(up.take(100)).isEmpty)
    val bpp32 = up.clone(); bpp32(28) = 32
    assert(Multimodal.bmpGray(bpp32).isEmpty)
    val rle = up.clone(); rle(30) = 1 // BI_RLE8
    assert(Multimodal.bmpGray(rle).isEmpty)
  }

  test("pngGray: inflate + all five filters round-trip, RGB luma, ancillary chunks, rejects") {
    val rnd = new scala.util.Random(11)
    // the writer rotates filters 0..4 by row, so any h >= 5 exercises
    // every unfilter path against random (worst-case) pixel data
    for ((w, h) <- Seq((9, 8), (5, 5), (17, 6), (3, 11))) {
      val gray = Array.fill(w * h)(rnd.nextInt(256))
      val dec = Multimodal.pngGray(Multimodal.pngPixelBytes(w, h, gray))
      assert(dec.exists { case (dw, dh, dg) =>
        dw == w && dh == h && dg.sameElements(gray) }, s"$w x $h png round-trip")
    }
    // ancillary chunk before IDAT + trailing bytes after IEND tolerated
    val base = Multimodal.pngPixelBytes(9, 8, Array.tabulate(72)(i => i * 3 % 256))
    val sig = base.take(8); val rest = base.drop(8)
    val ihdrLen = 12 + 13
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      bb.putInt(crc.getValue.toInt); bb.array()
    }
    val withAncillary = sig ++ rest.take(ihdrLen) ++
      chunk("tEXt", "comment".getBytes("US-ASCII")) ++ rest.drop(ihdrLen) ++
      "trailing payload".getBytes("UTF-8")
    assert(Multimodal.pngGray(withAncillary).map(_._3.toSeq) ==
      Multimodal.pngGray(base).map(_._3.toSeq))
    // RGB (color type 2) luma: hand-build one 1x1 RGB PNG
    val rgbRaw = Array[Byte](0, 30, 20, 10) // filter 0, R=30 G=20 B=10
    val defl = new java.util.zip.Deflater()
    defl.setInput(rgbRaw); defl.finish()
    val zb = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](256)
    while (!defl.finished()) zb.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    val rgbIhdr = java.nio.ByteBuffer.allocate(13).putInt(1).putInt(1)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
    val rgbPng = sig ++ chunk("IHDR", rgbIhdr) ++ chunk("IDAT", zb.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
    assert(Multimodal.pngGray(rgbPng).exists(_._3(0) == (299 * 30 + 587 * 20 + 114 * 10) / 1000))
    // rejects: header-only prefix (no IDAT), truncated zlib stream
    assert(Multimodal.pngGray(Multimodal.pngHeader(9, 8)).isEmpty)
    val truncated = base.dropRight(30)
    assert(Multimodal.pngGray(truncated).isEmpty)
    // dHash parity with the BMP container on identical pixels
    val g2 = Array.tabulate(72)(c => Multimodal.cellGray(7L, 2, c))
    val viaPng = Multimodal.pngGray(Multimodal.pngPixelBytes(9, 8, g2)).get
    val viaBmp = Multimodal.bmpGray(Multimodal.bmpPixelBytes(9, 8, g2)).get
    assert(Multimodal.dHash64(viaPng._3, 9, 8) == Multimodal.dHash64(viaBmp._3, 9, 8))
  }

  test("dHash64: scale invariance, fixture perturbation bound, banding recall") {
    def upscale(g: Array[Int], w: Int, h: Int, k: Int): Array[Int] =
      Array.tabulate(w * k * h * k) { i =>
        val x = i % (w * k); val y = i / (w * k)
        g((y / k) * w + x / k)
      }
    for (group <- 0L until 50L; member <- 0 to 3) {
      val g = Array.tabulate(72)(c => Multimodal.cellGray(group, member, c))
      val h1 = Multimodal.dHash64(g, 9, 8)
      // block-constant upscales hash identically (exact block means)
      assert(Multimodal.dHash64(upscale(g, 9, 8, 2), 18, 16) == h1)
      assert(Multimodal.dHash64(upscale(g, 9, 8, 3), 27, 24) == h1)
      // one inverted cell touches at most its two gradient comparisons
      if (member > 0) {
        val base = Array.tabulate(72)(c => Multimodal.cellGray(group, 0, c))
        val d = java.lang.Long.bitCount(h1 ^ Multimodal.dHash64(base, 9, 8))
        assert(d <= 2, s"group $group member $member hamming $d")
      }
    }
    // banding recall + bucket cap on hand-built fingerprints
    import spark.implicits._
    val hashes = Seq(
      (1L, 0x0F0F0F0F0F0F0F0FL), (2L, 0x0F0F0F0F0F0F0F0CL), // hamming 2
      (3L, -1L)                                              // far from both
    ).toDF("doc_id", "sh")
    val pairs = Dedup.hammingNearDups(hashes, maxDistance = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 2L)))
    val capped = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("doc_id", "sh")
    assert(Dedup.hammingNearDups(capped, maxDistance = 2, maxBucket = 2).count() == 0)
  }

  test("bmpPixelMedia end-to-end: dhashRelation equals the formula hash per doc") {
    val rel = Multimodal.dhashRelation(Multimodal.bmpPixelMedia(docs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rel.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    for ((id, got) <- rel) {
      val g = Array.tabulate(72)(c =>
        Multimodal.cellGray(id / 4, (id % 4).toInt, c))
      assert(got == Multimodal.dHash64(g, 9, 8), s"doc $id")
    }
  }

  test("mediaWithHeaders fixture: parsed dims match the encoded formula") {
    val media = Multimodal.mediaWithHeaders(docs)
    val feats = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    // doc_ids 1..6 -> images are 3 (GIF: 3/3 % 5 == 1) and 6 (BMP: 6/3 % 5 == 2)
    for (id <- Seq(3L, 6L)) {
      val f = feats(id)
      assert(f.media_type == "image")
      assert(f.width == 16 + (id % 1000).toInt, s"id $id width")
      assert(f.height == 16 + ((id / 7) % 1000).toInt, s"id $id height")
    }
    // audio rows carry a real WAV header: sample rate / duration parsed
    // back must match the fixture formulas (id 1: 9000 Hz mono 16-bit,
    // 43 text bytes -> 43*1000/18000 ms), dims pinned to 0
    val audio = feats(1L)
    assert(audio.media_type == "audio" && audio.width == 0 && audio.height == 0)
    assert(audio.sample_rate == 8000 + (1 % 8) * 1000)
    val textLen1 = "the quick brown fox jumps over the lazy dog".length
    assert(audio.duration_ms == textLen1 * 1000L / (9000L * 1 * 2))
    assert(audio.byte_len == textLen1 + 44L)
    // video rows carry a real MP4 prefix: mvhd duration + stsz count
    val video = feats(2L)
    assert(video.media_type == "video" && video.n_frames == 1 + (2 % 300))
    assert(video.duration_ms == (1 + 2 % 60) * 1000L)
    // image byte_len = header + text bytes (id 3 text is 44 chars, GIF 13)
    assert(feats(3L).byte_len == 44L + 13L)
    // ids 9 and 12 rotate to the JPEG (21-byte) and WebP (25-byte)
    // headers; parsed dims must still match the id formulas
    import spark.implicits._
    val extra = Multimodal.mediaWithHeaders(Seq(
        (9L, "nine nine", "en", "web", 9L),
        (12L, "twelve twelve", "en", "web", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val efeats = Multimodal.extractFeatures(extra).collect().map(f => f.media_id -> f).toMap
    assert(efeats(9L).width == 25 && efeats(9L).height == 17)
    assert(efeats(9L).byte_len == "nine nine".length + 21L)
    assert(efeats(12L).width == 28 && efeats(12L).height == 17)
    assert(efeats(12L).byte_len == "twelve twelve".length + 25L)
  }

  test("WAV/MP4 header decode: round-trip, truncation falls back") {
    // builder -> parser must recover every encoded field exactly
    for ((sr, ch, bits, dl) <- Seq((8000, 1, 16, 100), (44100, 2, 16, 123457),
        (96000, 2, 24, 7), (22050, 1, 8, 0))) {
      val p = Multimodal.wavHeader(sr, ch, bits, dl) ++ new Array[Byte](math.min(dl, 64))
      assert(Multimodal.wavMeta(p) == Some((sr, ch, bits, dl.toLong)), s"wav $sr/$ch/$bits/$dl")
    }
    for ((ts, dur, nf) <- Seq((1000, 1000L, 1), (600, 123456L, 299), (90000, 0L, 1000000))) {
      val p = Multimodal.mp4Header(ts, dur, nf, 10) ++ "0123456789".getBytes("US-ASCII")
      assert(Multimodal.mp4Meta(p) == Some((ts, dur, nf)), s"mp4 $ts/$dur/$nf")
    }
    // trailing payload and absent headers must not confuse either walk
    assert(Multimodal.wavMeta("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.wavMeta("plain text, not a wav".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.mp4Meta("plain text, not an mp4".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.mp4Meta(Array.emptyByteArray).isEmpty)
    // a wav payload handed to the mp4 walk (and vice versa) is None
    assert(Multimodal.mp4Meta(Multimodal.wavHeader(8000, 1, 16, 4)).isEmpty)
    assert(Multimodal.wavMeta(Multimodal.mp4Header(1000, 5000L, 50, 0)).isEmpty)
    // hostile chunk sizes must terminate, not spin or crash: a u32
    // size of 0xFFFFFFF8 truncated to Int is -8 (zero advance), and
    // 0x80000000 would drive the cursor negative
    for (hostile <- Seq(0xfffffff8L, 0xfffffff7L, 0x80000000L, 0x7fffffffL)) {
      val junk = new Array[Byte](48)
      "RIFF".getBytes("US-ASCII").copyToArray(junk, 0)
      "WAVE".getBytes("US-ASCII").copyToArray(junk, 8)
      "JUNK".getBytes("US-ASCII").copyToArray(junk, 12)
      for (b <- 0 until 4) junk(16 + b) = ((hostile >> (8 * b)) & 0xff).toByte
      assert(Multimodal.wavMeta(junk).isEmpty, f"hostile wav size 0x$hostile%x")
    }
    // multi-track file: the audio trak comes FIRST (hdlr 'soun', stsz
    // = its sample count), so frame count must come from the 'vide'
    // trak's stsz, not first-stsz-wins; with no vide trak anywhere the
    // walk falls back to the first stsz
    def b4(n: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(4).putInt(n).array()
    def mbox(t: String, payload: Array[Byte]): Array[Byte] =
      b4(8 + payload.length) ++ t.getBytes("US-ASCII") ++ payload
    def hdlrBox(h: String): Array[Byte] =
      mbox("hdlr", b4(0) ++ b4(0) ++ h.getBytes("US-ASCII") ++ b4(0))
    def stszBox(n: Int): Array[Byte] = mbox("stsz", b4(0) ++ b4(0) ++ b4(n))
    def trakBox(h: String, n: Int): Array[Byte] =
      mbox("trak", mbox("mdia", hdlrBox(h) ++ mbox("minf", mbox("stbl", stszBox(n)))))
    val mvhdBox = mbox("mvhd", b4(0) ++ b4(0) ++ b4(0) ++ b4(700) ++ b4(5000) ++ b4(0))
    val twoTrack = mbox("ftyp", "isomiso2".getBytes("US-ASCII")) ++
      mbox("moov", mvhdBox ++ trakBox("soun", 111) ++ trakBox("vide", 42))
    assert(Multimodal.mp4Meta(twoTrack) == Some((700, 5000L, 42)))
    val audioOnly = mbox("moov", mvhdBox ++ trakBox("soun", 111))
    assert(Multimodal.mp4Meta(audioOnly) == Some((700, 5000L, 111)))
  }

  test("corpusFrequencyScore: mean corpus frequency, integer-exact") {
    val scores = TextAnalysis.corpusFrequencyScore(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // corpus word freqs across docs 1-5: the=6, quick/brown/fox/over/lazy/dog=3,
    // jumps=2, jumped=1, all doc-4/5 words=1. Doc 1 word multiset sums to 32/9.
    assert(scores(1L).getLong(1) == 9L && scores(1L).getLong(2) == 32L)
    assert(scores(2L).getLong(2) == 32L) // exact dup scores identically
    assert(scores(4L).getDouble(3) == 1.0) // all-unique vocabulary
    assert(scores(5L).getDouble(3) == 1.0)
    assert(!scores.contains(6L)) // blank doc has no words to grade
  }

  test("tfidfTopTerms: linear-idf ranking with deterministic tie-break") {
    val top = TextAnalysis.tfidfTopTerms(docs, k = 3).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[String]("term")).toSeq }
    // doc 1 (n_docs=5): the tf=2 df=3 -> 3.33; jumps df=2 -> 2.5; the
    // 5/3 tie group resolves alphabetically -> brown
    assert(top(1L) == Seq("the", "jumps", "brown"))
    // doc 5: all tf=1 df=1 -> score 5.0 ties, alphabetical
    assert(top(5L) == Seq("about", "completely", "content"))
    assert(!top.contains(6L))
  }

  test("duplicatedSpans: 8-gram spans shared across docs are flagged") {
    val spans = TextAnalysis.duplicatedSpans(docs, n = 8).collect()
      .map(r => r.getLong(0) -> r).toMap
    // docs 1/2 are exact copies: both 8-gram positions duplicated
    assert(spans(1L).getLong(1) == 2L && spans(1L).getLong(2) == 2L
      && spans(1L).getDouble(3) == 1.0)
    assert(spans(2L).getLong(2) == 2L)
    // doc 3 differs in word 5, which sits inside both of its 8-grams
    assert(spans(3L).getLong(2) == 0L && spans(3L).getDouble(3) == 0.0)
    // docs 5 (6 words) and 6 (blank) have no 8-gram basis
    assert(!spans.contains(5L) && !spans.contains(6L))
  }

  test("chunkDedup: repeated chunks removed, first occurrence kept, text reassembled") {
    // chunkWords=4: doc 1 = chunks ["the quick brown fox","jumps over the lazy","dog"];
    // doc 2 (exact copy) loses all three; doc 3 differs in chunk 2 only
    val out = TextAnalysis.chunkDedup(docs, chunkWords = 4).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 3L && out(1L).getLong(2) == 3L &&
      out(1L).getString(3) == "the quick brown fox jumps over the lazy dog")
    assert(!out.contains(2L), "exact copy must vanish entirely")
    assert(out(3L).getLong(2) == 1L &&
      out(3L).getString(3) == "jumped over the lazy")
    // unique docs survive whole; the in-order reassembly is exact
    assert(out(5L).getString(3) == "completely different content about spark engines")
    // blank text: one empty chunk, survives as the first "" occurrence
    assert(out(6L).getString(3) == "")
    // removal is idempotent: a second pass keeps everything
    import spark.implicits._
    val again = TextAnalysis.chunkDedup(
      out.values.toSeq.sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getString(3), "en", "web", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"),
      chunkWords = 4).collect()
    assert(again.length == out.size)
    assert(again.map(r => r.getLong(1) == r.getLong(2)).forall(identity))
  }

  test("principalProjection: recovers a planted direction, partition-invariant") {
    import spark.implicits._
    // cloud dominated by +-axis-0 spikes, small structured noise on
    // the other axes: the top principal direction is axis 0, so the
    // projections must separate the +- groups by sign with magnitudes
    // far above the noise-only rows
    val dim = 64
    val emb = (0 until 60).map { i =>
      val a = new Array[Float](dim)
      if (i % 3 == 0) a(0) = 100f
      else if (i % 3 == 1) a(0) = -100f
      a(1 + i % 7) += (3 + i % 5).toFloat // noise axes
      (i.toLong, a.toSeq)
    }.toDF("vec_id", "embedding")
    def projOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Similarity.principalProjection(df, dim = dim, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p = projOf(emb)
    val pos = (0 until 60).filter(_ % 3 == 0).map(i => p(i.toLong))
    val neg = (0 until 60).filter(_ % 3 == 1).map(i => p(i.toLong))
    val noise = (0 until 60).filter(_ % 3 == 2).map(i => p(i.toLong))
    // one consistent sign per planted group, magnitudes dominating noise
    assert(pos.forall(_ > 0) && neg.forall(_ < 0) || pos.forall(_ < 0) && neg.forall(_ > 0))
    val minSpike = (pos ++ neg).map(math.abs).min
    assert(noise.forall(v => math.abs(v) < minSpike / 2),
      s"noise $noise vs spike floor $minSpike")
    // integer accumulators commute: any partitioning, same projections
    assert(projOf(emb.repartition(7)) == p)
  }

  test("exactHeavyHitters: equals brute force, strict bar, partition-invariant") {
    import spark.implicits._
    def brute(items: Seq[String], k: Int): Set[(String, Long)] = {
      val n = items.size.toLong
      items.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, c) => c * k > n }.toSet
    }
    // skewed: two clear heavy hitters, one exactly AT the bar (n=40,
    // k=4 -> bar 10; "c" has exactly 10 and must be EXCLUDED)
    val skewed = Seq.fill(18)("a") ++ Seq.fill(12)("b") ++ Seq.fill(10)("c")
    // near-uniform: MG thrashes (vocab > k) and the true answer is empty
    val uniform = (0 until 200).map(i => s"w${i % 40}")
    for ((data, k) <- Seq((skewed, 4), (uniform, 8), (skewed ++ uniform, 16))) {
      val expected = brute(data, k)
      for (parts <- Seq(1, 7)) {
        val got = Sketch.exactHeavyHitters(
            spark.createDataset(data).repartition(parts), k)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        assert(got == expected, s"k=$k parts=$parts")
      }
    }
  }

  test("exactHeavyHittersByGroup: per-group brute force, groups independent") {
    import spark.implicits._
    // group A is skewed, group B uniform: B must contribute nothing
    // while A's hitters are judged against A's OWN total, not the
    // global one (a global bar would wrongly admit/drop items)
    val a = Seq.fill(12)("hot") ++ Seq.fill(4)("warm") ++ (0 until 4).map(i => s"a$i")
    val b = (0 until 40).map(i => s"w${i % 20}")
    val pairs = (a.map(("A", _)) ++ b.map(("B", _))).toDF("g", "w")
    def brute(items: Seq[String], k: Int): Set[(String, Long)] = {
      val n = items.size.toLong
      items.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, c) => c * k > n }.toSet
    }
    for (parts <- Seq(1, 5)) {
      val got = Sketch.exactHeavyHittersByGroup(pairs.repartition(parts), "g", "w", k = 4)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val want = brute(a, 4).map { case (w, c) => ("A", w, c) } ++
        brute(b, 4).map { case (w, c) => ("B", w, c) }
      assert(got == want && got.nonEmpty, s"parts=$parts")
    }
  }

  test("hllDistinct: error bound across cardinalities, partition-invariant") {
    import spark.implicits._
    // sigma at p=8 is 1.04/sqrt(256) = 6.5%; 20% is ~3 sigma. FNV is
    // fixed, so these are deterministic fixtures, not flaky draws.
    for (n <- Seq(100, 1000, 20000)) {
      val df = (1 to n).map(i => s"value_$i").toDF("v")
      val r = Sketch.hllDistinct(df, Seq("v"), p = 8).collect()(0)
      assert(r.getLong(1) == n.toLong)
      val est = r.getDouble(2)
      assert(math.abs(est - n) / n < 0.20, s"n=$n est=$est")
    }
    // the register sum is exact integer arithmetic, so the estimate is
    // bit-identical under any partitioning
    val df = (1 to 5000).map(i => s"value_$i").toDF("v")
    val a = Sketch.hllDistinct(df.repartition(1), Seq("v"), p = 8).collect()(0)
    val b = Sketch.hllDistinct(df.repartition(13), Seq("v"), p = 8).collect()(0)
    assert(a == b)
  }

  test("hllDistinctByGroup: per-group estimates track exact, partition-invariant") {
    import spark.implicits._
    // 3 groups with distinct cardinalities 200 / 1000 / 5000
    val rows = Seq(("a", 200), ("b", 1000), ("c", 5000)).flatMap { case (g, n) =>
      (1 to n).map(i => (g, s"${g}_value_$i"))
    }
    val df = rows.toDF("grp", "v")
    val est = Sketch.hllDistinctByGroup(df, "grp", "v", p = 8).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(est.keySet == Set("a", "b", "c"))
    Seq(("a", 200L), ("b", 1000L), ("c", 5000L)).foreach { case (g, n) =>
      assert(est(g).getLong(1) == n)
      val e = est(g).getDouble(2)
      assert(math.abs(e - n) / n < 0.20, s"group $g: est $e vs $n")
    }
    // exact integer register sums: identical under any partitioning
    val a = Sketch.hllDistinctByGroup(df.repartition(1), "grp", "v", 8)
      .orderBy("grp").collect().toSeq
    val b = Sketch.hllDistinctByGroup(df.repartition(13), "grp", "v", 8)
      .orderBy("grp").collect().toSeq
    assert(a == b)
  }

  test("exactQuantiles: bisection == global-sort order statistic across bins") {
    import spark.implicits._
    // skewed multiset with duplicates and a wide range; and a range
    // ending at Long.MaxValue, where the upper bin edge must saturate
    val vs = (Seq.fill(50)(7L) ++ (1L to 200L) ++ Seq(100000L, 100001L))
    val df = vs.toDF("x")
    val qs = Seq(0.01, 0.25, 0.5, 0.9, 0.99, 1.0)
    for (input <- Seq(vs, Seq(Long.MaxValue - 1000, Long.MaxValue));
         bins <- Seq(2, 16, 256)) {
      val sorted = input.sorted
      val got = Sketch.exactQuantiles(input.toDF("x"), "x", qs, bins).collect()
        .map(r => r.getAs[Double]("q") -> r.getAs[Long]("exact_value")).toMap
      qs.foreach { q =>
        assert(got(q) == sorted(math.max(1, math.ceil(q * sorted.size).toInt) - 1),
          s"q=$q bins=$bins max=${sorted.last}")
      }
    }
    // partition invariance of the whole loop
    val a = Sketch.exactQuantiles(df.repartition(13), "x", qs, 16)
      .orderBy("q").collect().toSeq
    val b = Sketch.exactQuantiles(df.repartition(1), "x", qs, 16)
      .orderBy("q").collect().toSeq
    assert(a == b)
  }

  test("weightedQuantiles: bisection == expanded-multiset order statistic; unit-weight degeneracy") {
    import spark.implicits._
    // duplicates, skewed weights, a wide range — the reference expands
    // every (v, w) into w copies and reads the rank off the sort
    // — and, with unit weights, a range ending at Long.MaxValue
    val rows = Seq((7L, 50L), (100000L, 2L)) ++ (1L to 200L).map(v => (v, v % 5 + 1))
    val df = rows.toDF("x", "w")
    val qs = Seq(0.01, 0.25, 0.5, 0.9, 0.99, 1.0)
    for (input <- Seq(rows, Seq((Long.MaxValue - 1000, 1L), (Long.MaxValue, 1L)));
         bins <- Seq(2, 16, 256)) {
      val expanded = input.flatMap { case (v, w) => Seq.fill(w.toInt)(v) }.sorted
      val tw = expanded.size.toLong
      val got = Sketch.weightedQuantiles(input.toDF("x", "w"), "x", "w", qs, bins)
        .collect().map(r => r.getAs[Double]("q") ->
          (r.getAs[Long]("total_w"), r.getAs[Long]("exact_value"))).toMap
      qs.foreach { q =>
        assert(got(q) == (tw, expanded(math.max(1L, math.ceil(q * tw).toLong).toInt - 1)),
          s"q=$q bins=$bins max=${expanded.last}")
      }
    }
    // unit-weight degeneracy: weight 1 everywhere IS exactQuantiles
    val base = Seq.fill(50)(7L) ++ (1L to 200L)
    val wq = Sketch.weightedQuantiles(base.map((_, 1L)).toDF("x", "w"),
        "x", "w", qs, 16)
      .select("q", "exact_value").orderBy("q").collect().toSeq
    val uq = Sketch.exactQuantiles(base.toDF("x"), "x", qs, 16)
      .select("q", "exact_value").orderBy("q").collect().toSeq
    assert(wq == uq, "unit weights must reduce to the unweighted op")
    // null / zero / negative weights carry no mass
    val wz = Sketch.weightedQuantiles(
      Seq((1L, Some(0L)), (5L, Some(3L)), (9L, Some(-2L)), (11L, None))
        .toDF("x", "w"), "x", "w", Seq(1.0), 4).head()
    assert(wz.getAs[Long]("total_w") == 3L &&
      wz.getAs[Long]("exact_value") == 5L)
    // partition invariance of the whole loop
    val a = Sketch.weightedQuantiles(df.repartition(13), "x", "w", qs, 16)
      .orderBy("q").collect().toSeq
    val b = Sketch.weightedQuantiles(df.repartition(1), "x", "w", qs, 16)
      .orderBy("q").collect().toSeq
    assert(a == b)
  }

  test("weightedQuantilesByGroup: lock-step bisection == per-group expanded reference") {
    import spark.implicits._
    // groups with different ranges and skewed weights
    val rows = Seq(("a", 7L, 50L), ("a", 100000L, 2L), ("b", 3L, 9L)) ++
      (1L to 200L).map(v => ("a", v, v % 5 + 1)) ++
      (10L to 40L).map(v => ("b", v, 3L))
    val df = rows.toDF("grp", "x", "w")
    val qs = Seq(0.25, 0.5, 0.99)
    def reference(g: String, q: Double): Long = {
      val exp = rows.filter(_._1 == g)
        .flatMap { case (_, v, w) => Seq.fill(w.toInt)(v) }.sorted
      exp(math.max(1L, math.ceil(q * exp.size).toLong).toInt - 1)
    }
    for (bins <- Seq(2, 16, 256)) {
      val got = Sketch.weightedQuantilesByGroup(df, "grp", "x", "w", qs, bins)
        .collect().map(r => (r.getString(0), r.getAs[Double]("q")) ->
          r.getAs[Long]("exact_value")).toMap
      for (g <- Seq("a", "b"); q <- qs)
        assert(got((g, q)) == reference(g, q), s"g=$g q=$q bins=$bins")
    }
    // a null group is one group, as in groupBy: one narrower than a bin
    // span (final pass only), then one wide enough to bisect
    for (nulls <- Seq(Seq((3L, 2L), (5L, 1L)), Seq((3L, 2L), (5L, 1L), (70000L, 4L)))) {
      val withNull = rows ++ nulls.map { case (v, w) => (null: String, v, w) }
      val got = Sketch.weightedQuantilesByGroup(withNull.toDF("grp", "x", "w"),
          "grp", "x", "w", qs, bins = 8)
        .collect().map(r => (r.getString(0), r.getAs[Double]("q")) ->
          r.getAs[Long]("exact_value")).toMap
      val exp = nulls.flatMap { case (v, w) => Seq.fill(w.toInt)(v) }.sorted
      assert(got.size == 3 * qs.size, s"groups a, b and null: $got")
      for (q <- qs)
        assert(got((null, q)) == exp(math.max(1L, math.ceil(q * exp.size).toLong).toInt - 1),
          s"null group q=$q values=$nulls")
    }
    // unit-weight degeneracy: reduces to exactQuantilesByGroup
    val ones = rows.map { case (g, v, _) => (g, v, 1L) }.toDF("grp", "x", "w")
    val wq = Sketch.weightedQuantilesByGroup(ones, "grp", "x", "w", qs, 16)
      .select("grp", "q", "exact_value").orderBy("grp", "q").collect().toSeq
    val uq = Sketch.exactQuantilesByGroup(
        rows.map(t => (t._1, t._2)).toDF("grp", "x"), "grp", "x", qs, 16)
      .select("grp", "q", "exact_value").orderBy("grp", "q").collect().toSeq
    assert(wq == uq, "unit weights must reduce to the unweighted op")
    // zero/negative-weight rows carry no mass; all-zero groups vanish
    val wz = Sketch.weightedQuantilesByGroup(
      Seq(("a", 1L, 0L), ("a", 5L, 3L), ("z", 9L, 0L)).toDF("grp", "x", "w"),
      "grp", "x", "w", Seq(1.0), 4).collect()
    assert(wz.length == 1 && wz.head.getString(0) == "a" &&
      wz.head.getAs[Long]("exact_value") == 5L)
  }

  test("hll register publishing: merged slice registers == whole corpus, bit-exact") {
    import spark.implicits._
    val rows = (1 to 3000).map(i => (s"g${i % 3}", s"v$i"))
    val df = rows.toDF("grp", "v")
    val sliceA = df.filter(md5(col("v")).startsWith("a").isNotNull &&
      substring(md5(col("v")), 1, 1) < "8")
    val sliceB = df.except(sliceA)
    // slices overlap-free by construction; re-deliver sliceB twice to
    // prove idempotence of the max-merge
    val merged = Sketch.hllEstimateFromRegisterRelation(
      Sketch.hllRegistersByGroup(sliceA, "grp", "v")
        .unionByName(Sketch.hllRegistersByGroup(sliceB, "grp", "v"))
        .unionByName(Sketch.hllRegistersByGroup(sliceB, "grp", "v")),
      "grp").orderBy("grp").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    val whole = Sketch.hllDistinctByGroup(df, "grp", "v")
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getAs[Double]("hll_estimate"),
        r.getAs[Long]("registers_used"))).toSeq
    assert(merged == whole) // bit-exact, not approximately equal
  }

  test("exactQuantilesByGroup: lock-step bisection == per-group sort reference") {
    import spark.implicits._
    // groups with wildly different ranges (the lock-step rounds are
    // driven by the widest) and duplicate-heavy values
    val rows = (1L to 300L).map(i => ("narrow", i % 7)) ++
      (1L to 100L).map(i => ("wide", i * i * 13)) ++
      Seq(("tiny", 42L), ("tiny", 42L), ("tiny", 7L))
    val df = rows.toDF("grp", "x")
    val qs = Seq(0.1, 0.5, 0.99)
    val got = Sketch.exactQuantilesByGroup(df, "grp", "x", qs, bins = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        r.getAs[Long]("exact_value")).toMap
    val byGroup = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((g, vs) <- byGroup; q <- qs) {
      val expected = vs(math.max(1, math.ceil(q * vs.size).toInt) - 1)
      assert(got((g, q)) == expected, s"group $g q=$q")
    }
    // a null group is one group, as in groupBy: one narrower than a bin
    // span (final pass only), then one wide enough to bisect
    for (nulls <- Seq(Seq(3L, 5L, 5L), Seq(3L, 5L, 1000L, 70000L))) {
      val withNull = rows ++ nulls.map(v => (null: String, v))
      val out = Sketch.exactQuantilesByGroup(withNull.toDF("grp", "x"), "grp", "x",
          qs, bins = 8)
        .collect().map(r => (r.getString(0), r.getDouble(1)) ->
          r.getAs[Long]("exact_value")).toMap
      val vs = nulls.sorted
      assert(out.size == 4 * qs.size, s"groups narrow, wide, tiny and null: $out")
      for (q <- qs)
        assert(out((null, q)) == vs(math.max(1, math.ceil(q * vs.size).toInt) - 1),
          s"null group q=$q values=$nulls")
    }
    // agrees with the ungrouped operator on a single-group frame
    val single = Sketch.exactQuantiles(
      df.filter(col("grp") === "wide").select("x"), "x", qs, bins = 8)
      .collect().map(r => r.getAs[Double]("q") -> r.getAs[Long]("exact_value")).toMap
    qs.foreach(q => assert(single(q) == got(("wide", q))))
  }

  test("group-wise quantile bisection refuses unbounded group columns") {
    import spark.implicits._
    // the guard is cap-BEFORE-collect: an over-cardinal group column
    // (per-URL, per-domain) must refuse with the distributed
    // alternative named, never OOM the driver holding groups x qs
    // state — the bruteScores/allPairsExact guard convention
    val manyGroups = (1L to 50L).map(i => (s"url$i", i)).toDF("grp", "x")
    val e1 = intercept[IllegalArgumentException] {
      Sketch.exactQuantilesByGroup(manyGroups, "grp", "x",
        Seq(0.5), bins = 8, maxGroups = 10)
    }
    assert(e1.getMessage.contains("histQuantilesByGroup") &&
      e1.getMessage.contains("50 groups"),
      "refusal must name the unbounded-groups alternative and the count")
    val wManyGroups = (1L to 50L).map(i => (s"url$i", i, 2L)).toDF("grp", "x", "w")
    val e2 = intercept[IllegalArgumentException] {
      Sketch.weightedQuantilesByGroup(wManyGroups, "grp", "x", "w",
        Seq(0.5), bins = 8, maxGroups = 10)
    }
    assert(e2.getMessage.contains("histQuantilesByGroup"))
    // at the cap exactly, the operator still runs (closed bound)
    val atCap = Sketch.exactQuantilesByGroup(
      (1L to 10L).map(i => (s"g$i", i)).toDF("grp", "x"),
      "grp", "x", Seq(1.0), bins = 8, maxGroups = 10).collect()
    assert(atCap.length == 10 &&
      atCap.forall(r => r.getAs[Long]("exact_value") == r.getString(0).drop(1).toLong))
  }

  test("exact quantiles job budget: jobs follow the rounds, not the number of qs") {
    import spark.implicits._
    // every q advances in lock-step: the bounds pass, then per round a
    // range broadcast and a bin collect, then the same pair for the
    // final per-value pass — so four qs cost what the single q with the
    // most passes costs. Counted as the benchmark counts (AQE off); the
    // ByGroup bound, 12, is their cost with a bisection loop of their own.
    val df = (1L to 100000L).toDF("x").withColumn("w", lit(1L))
      .withColumn("g", lit("a"))
    val qs = Seq(0.25, 0.5, 0.9, 0.99)
    val passes = Sketch.exactQuantiles(df, "x", qs, 16).collect()
      .map(_.getAs[Long]("agg_passes")).toSeq
    assert(passes == Seq(4L, 4L, 5L, 5L))
    val deepest = qs(passes.indexOf(passes.max))
    val scalarBound = 2 * passes.max.toInt + 1
    val budget = Seq[(String, Seq[Double] => org.apache.spark.sql.DataFrame, Int, Int)](
      ("exactQuantiles", Sketch.exactQuantiles(df, "x", _, 16), 11, scalarBound),
      ("weightedQuantiles", Sketch.weightedQuantiles(df, "x", "w", _, 16), 11, scalarBound),
      ("exactQuantilesByGroup", Sketch.exactQuantilesByGroup(df, "g", "x", _, 16), 12, 12),
      ("weightedQuantilesByGroup",
        Sketch.weightedQuantilesByGroup(df, "g", "x", "w", _, 16), 12, 12))
    for ((op, run, pinned, atMost) <- budget) {
      val (_, all) = countingJobs(run(qs).collect())
      val (_, one) = countingJobs(run(Seq(deepest)).collect())
      assert(all == pinned && one == pinned && pinned <= atMost,
        s"$op: ${qs.mkString(",")} ran $all jobs, $deepest alone $one (pinned $pinned)")
    }
  }

  test("hllOverlapByGroup: inclusion-exclusion tracks the planted overlap") {
    import spark.implicits._
    // a: 1..2000, b: 1001..3000 (overlap 1000), c: disjoint 5001..5500
    val rows = (1 to 2000).map(i => ("a", s"v$i")) ++
      (1001 to 3000).map(i => ("b", s"v$i")) ++
      (5001 to 5500).map(i => ("c", s"v$i"))
    val df = rows.toDF("grp", "v")
    val out = Sketch.hllOverlapByGroup(df, "grp", "v", p = 8).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    val ab = out(("a", "b"))
    assert(ab.getAs[Long]("exact_common") == 1000L)
    // inclusion-exclusion is noisier than either input: allow 30% of
    // the TRUE union as the band (standard for p=8 intersections)
    assert(math.abs(ab.getAs[Double]("est_common") - 1000.0) < 0.3 * 3000.0)
    // disjoint pairs: exact 0, estimate near 0 relative to the union
    val ac = out(("a", "c"))
    assert(ac.getAs[Long]("exact_common") == 0L)
    assert(ac.getAs[Double]("est_common") < 0.3 * 2500.0)
    // union-max registers dominate each side elementwise, so the union
    // estimate is at least each side's (NOT subadditive though — the
    // linear-counting/raw switchover breaks est_u <= est_a + est_b)
    out.values.foreach { r =>
      assert(r.getAs[Double]("est_union") >=
        math.max(r.getAs[Double]("est_a"), r.getAs[Double]("est_b")) - 1e-9)
    }
    // partition-invariant (integer registers)
    val p1 = Sketch.hllOverlapByGroup(df.repartition(1), "grp", "v", 8)
      .orderBy("source_a", "source_b").collect().toSeq
    val p13 = Sketch.hllOverlapByGroup(df.repartition(13), "grp", "v", 8)
      .orderBy("source_a", "source_b").collect().toSeq
    assert(p1 == p13)
  }

  test("cms cell publishing: summed slice cells == whole corpus, probes one-sided") {
    import spark.implicits._
    val d = (1L to 200L).map(i =>
      (i, if (i % 3 == 0) "spark spark engine" else "data engine row"))
      .toDF("doc_id", "text")
    val a = d.filter(col("doc_id") % 2 === 0)
    val b = d.filter(col("doc_id") % 2 =!= 0)
    val words = Seq("spark", "engine", "data", "absent")
    val merged = Sketch.cmsEstimateFromCells(
      Sketch.cmsCells(a).unionByName(Sketch.cmsCells(b)), words)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val whole = Sketch.cmsEstimateFromCells(Sketch.cmsCells(d), words)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == whole) // addition merges exactly
    // one-sided: estimate >= exact corpus count; absent word can only
    // collide upward from 0
    val exact = Map("spark" -> 2L * 66, "engine" -> 200L, "data" -> 134L)
    exact.foreach { case (w, c) => assert(merged(w) >= c, w) }
    assert(merged("absent") >= 0L)
  }

  test("cmsWordCounts: one-sided error, exact when width dwarfs the vocabulary") {
    val r = Sketch.cmsWordCounts(docs, depth = 4, width = 1024, topK = 5).collect()
    assert(r.nonEmpty)
    // CMS can only overcount (hash collisions add, never subtract)
    assert(r.forall(x => x.getLong(2) >= x.getLong(1)),
      r.map(x => (x.getString(0), x.getLong(1), x.getLong(2))).mkString(", "))
    // the fixture vocabulary (~40 words) in 4x4096 counters: a probe
    // would need a collision in ALL four rows to overshoot
    val wide = Sketch.cmsWordCounts(docs, depth = 4, width = 4096, topK = 5).collect()
    assert(wide.forall(x => x.getLong(2) == x.getLong(1)),
      wide.map(x => (x.getString(0), x.getLong(1), x.getLong(2))).mkString(", "))
  }

  test("scalarQuantize: codes bounded, reconstruction within half a step, audit accurate") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val sq = Similarity.scalarQuantize(emb)
      .select(col("vec_id"), col("embedding"), col("codes"), col("scale"))
      .collect()
    sq.foreach { r =>
      val v = r.getSeq[Float](1)
      val codes = r.getSeq[Int](2)
      val scale = r.getDouble(3)
      assert(codes.length == v.length)
      assert(codes.forall(c => c >= -127 && c <= 127), "codes must fit int8")
      // dequantization error is at most half a quantization step per dim
      v.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x.toDouble - c * scale) <= scale / 2 + 1e-12)
      }
    }
    // quantized cosine tracks exact cosine at dim 64 / 8-bit codes
    val audit = Similarity.quantizedCosineAudit(emb, 0L).collect()
    assert(audit.nonEmpty)
    val maxErr = audit.map(_.getDouble(3)).max
    assert(maxErr < 0.02, s"int8 cosine error too large: $maxErr")
  }

  test("quantizedTopK: full shortlist == brute force, 4x shortlist high recall, group-limit plan") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(emb, q, 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // a shortlist spanning the corpus makes the re-rank exhaustive, so
    // the result must equal brute force exactly (full-probe law, the
    // same oracle-equivalence shape as the IVF/IVF-PQ specs)
    val full = Similarity.quantizedTopK(emb, q, 5, shortlist = 1000000)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "exhaustive shortlist must reproduce brute force")
    // 4x over-retrieval at int8 / dim 64: near-total recall
    val tight = Similarity.quantizedTopK(emb, q, 5, shortlist = 4)
    val tightSet = tight.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect tightSet).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low")
    // the shortlist rank-filter must reach the window as a group limit
    assert(tight.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("cleanText: NFC composition, control strip, whitespace collapse, idempotence") {
    import spark.implicits._
    // built via escapes so the source stays unambiguous: decomposed =
    // "cafe" + COMBINING ACUTE (5 chars); composed = "caf" + U+00E9 (4)
    val decomposed = "cafe\u0301"
    val composed = "caf\u00e9"
    assert(decomposed != composed && decomposed.length == 5 && composed.length == 4)
    val dirty = Seq(
      (1L, decomposed + "\u0001 au lait", "en", "web", 0L),
      (2L, "\t hello \n\n world  ", "en", "web", 0L),
      (3L, "already clean", "en", "web", 0L),
      (4L, "", "en", "web", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.cleanText(dirty).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(5) == composed + " au lait" && out(1L).getLong(6) == 1L)
    assert(out(2L).getString(5) == "hello world" && out(2L).getLong(6) == 1L)
    assert(out(3L).getString(5) == "already clean" && out(3L).getLong(6) == 0L)
    assert(out(4L).getString(5) == "" && out(4L).getLong(6) == 0L)
    // idempotence: cleaning cleaned text changes nothing
    val once = TextAnalysis.cleanText(dirty)
      .select(col("doc_id"), col("text_clean").as("text"))
    assert(TextAnalysis.cleanText(once).collect().forall(_.getLong(3) == 0L),
      "second pass must be a no-op")
    // the SQL surface exposes the same kernel
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT nfc_normalize('cafe\u0301') = 'caf\u00e9'").collect()(0)
    assert(viaSql.getBoolean(0))
  }

  test("histQuantiles: brackets contain the exact value, collapse at fine bins, partition-invariant") {
    import spark.implicits._
    // deterministic non-uniform spread over [0, 997)
    val df = (1 to 1000).map(i => (i.toLong * i) % 997).toDF("x")
    val qs = Seq(0.25, 0.5, 0.75, 0.99)
    val r = Sketch.histQuantiles(df, "x", qs, bins = 16).orderBy("q").collect()
    assert(r.length == 4)
    // the bracket always contains the exact quantile, and is one bin wide
    r.foreach { row =>
      val (lo, hi, ex) = (row.getLong(3), row.getLong(4), row.getLong(5))
      assert(ex >= lo && ex <= hi, s"q=${row.getDouble(0)}: $ex not in [$lo, $hi]")
      assert(hi - lo < (996 + 16) / 16, "bracket wider than one bin")
    }
    // bins exceeding the value range: width 1, bracket == exact value
    val fine = Sketch.histQuantiles(df, "x", Seq(0.5), bins = 2048).collect()(0)
    assert(fine.getLong(3) == fine.getLong(5) && fine.getLong(4) == fine.getLong(5))
    // integer arithmetic on the data: identical under any partitioning
    val a = Sketch.histQuantiles(df.repartition(1), "x", qs, 16).orderBy("q").collect().toSeq
    val b = Sketch.histQuantiles(df.repartition(13), "x", qs, 16).orderBy("q").collect().toSeq
    assert(a == b)
    // degenerate corpus (all values equal): one bin, exact bracket
    val const = Seq.fill(50)(7L).toDF("x")
    val c = Sketch.histQuantiles(const, "x", Seq(0.5), bins = 8).collect()(0)
    assert(c.getLong(3) == 7L && c.getLong(4) == 7L && c.getLong(5) == 7L)
  }

  test("n36 curation pipeline: planted post-filter copies are deduped away") {
    val out = SparkEntry.queries("n36_curation_pipeline")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    // every planted id (>= 1000000) duplicates a surviving original, so
    // the dedup window must have removed all of them
    assert(!out.exists(_.getLong(0) >= 1000000L))
    // and the filters are non-vacuous: gates kept a strict subset
    val total = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(out.length < total)
  }

  test("invertedIndex: df band binds, postings sorted, per-doc distinct") {
    val idx = TextAnalysis.invertedIndex(docs, minDf = 2, maxDf = 4).collect()
      .map(r => r.getString(0) -> r).toMap
    // "the" appears in docs 1,2,3 (twice each — postings stay distinct)
    assert(idx("the").getLong(1) == 3L)
    assert(idx("the").getSeq[Long](2) == Seq(1L, 2L, 3L))
    // hapax terms (df=1) are below the band; nothing exceeds df=4
    assert(!idx.contains("completely") && !idx.contains("springt"))
    assert(idx.values.forall(r => r.getLong(1) >= 2L && r.getLong(1) <= 4L))
    // df counts documents, and equals the postings length
    assert(idx.values.forall(r => r.getLong(1) == r.getSeq[Long](2).length.toLong))
    // maxDf=2 drops "the"/"over"/"lazy"... (df=3) — the stopword class
    val tight = TextAnalysis.invertedIndex(docs, minDf = 2, maxDf = 2).collect()
      .map(_.getString(0)).toSet
    assert(!tight.contains("the") && tight.contains("jumps")) // jumps: docs 1,2
  }

  test("packSequences: chop arithmetic exact, empty docs drop, partition-invariant") {
    import spark.implicits._
    // one shard so the stream is fully determined: token counts 9,9,9,8,6
    val packed = Sampling.packSequences(docs, budget = 10L, shards = 1)
      .orderBy("doc_id").collect()
    assert(packed.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L)) // doc 6 blank
    val byId = packed.map(r => r.getLong(0) -> r).toMap
    // doc 1: [0,9) -> seq 0 only; doc 2: [9,18) straddles seqs 0 and 1
    assert(byId(1L).getLong(3) == 0L && byId(1L).getLong(4) == 0L && byId(1L).getLong(5) == 0L)
    assert(byId(2L).getLong(3) == 9L && byId(2L).getLong(4) == 0L && byId(2L).getLong(5) == 1L)
    // offsets tile the stream with no gaps: each start = previous end
    val tiled = packed.sliding(2).forall(w =>
      w(1).getLong(3) == w(0).getLong(3) + w(0).getLong(2))
    assert(tiled)
    // exact integer arithmetic on the data: identical on any partitioning
    val a = Sampling.packSequences(docs, 10L, 4).orderBy("doc_id").collect().toSeq
    val b = Sampling.packSequences(docs.repartition(7), 10L, 4)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
    // a doc longer than the budget spans multiple sequences
    val long = Seq((0L, Seq.fill(25)("w").mkString(" "), "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val lr = Sampling.packSequences(long, 10L, 1).collect()(0)
    assert(lr.getLong(4) == 0L && lr.getLong(5) == 2L)
  }

  test("weightedPrioritySample: deterministic, partition-invariant, PPS tendency") {
    import spark.implicits._
    val d = ((1L to 9L).map(i => (i, 1L)) :+ (10L, 1000L))
      .toDF("doc_id", "w")
    val a = Sampling.weightedPrioritySample(d, col("w"), k = 3, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val b = Sampling.weightedPrioritySample(d.repartition(5), col("w"), k = 3, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(a == b && a.size == 3)
    // k >= population returns everyone, ordered by key
    val all = Sampling.weightedPrioritySample(d, col("w"), k = 100)
      .collect().map(_.getLong(2)).toSeq
    assert(all.size == 10 && all == all.sorted)
    // PPS: the weight-1000 item (99% of total mass) should win the
    // top-1 race for the overwhelming majority of seeds
    val wins = (1L to 30L).count { s =>
      Sampling.weightedPrioritySample(d, col("w"), k = 1, seed = s)
        .collect()(0).getLong(0) == 10L
    }
    assert(wins >= 24, s"heavy item won only $wins/30 seeds")
  }

  test("weightedPrioritySampleByGroup: per-stratum bottom-k, group-limit plan") {
    import spark.implicits._
    val d = (Seq(("a", 1L, 5L), ("a", 2L, 5L), ("a", 3L, 5L), ("b", 10L, 7L))
      .map { case (g, id, w) => (g, id, w) }).toDF("grp", "doc_id", "w")
    val out = Sampling.weightedPrioritySampleByGroup(d, "grp", col("w"), perGroup = 2)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(4)))
    assert(rows.count(_._1 == "a") == 2 && rows.count(_._1 == "b") == 1)
    assert(rows.filter(_._1 == "a").map(_._2).sorted.toSeq == Seq(1L, 2L))
    // within a stratum, winners agree with the global sample restricted
    // to that stratum (same keys, same ordering)
    val globalA = Sampling.weightedPrioritySample(
      d.filter(col("grp") === "a"), col("w"), k = 2)
      .collect().map(_.getLong(0)).toSet
    val stratA = out.filter(col("grp") === "a")
      .collect().map(_.getLong(1)).toSet
    assert(globalA == stratA)
    // the rank filter reaches the window as a group limit
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("capPerGroup: deterministic, partition-invariant, WindowGroupLimit plan") {
    val capped = Sampling.capPerGroup(docs, "lang", "doc_id", 3)
    val kept = capped.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept.length == 4) // 3 of 5 'en', the 1 'de' untouched
    assert(kept.contains(4L))
    // survivor set is decided by the data: identical on any partitioning
    val kept7 = Sampling.capPerGroup(docs.repartition(7), "lang", "doc_id", 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept7 == kept)
    // the rank filter must reach the window operator as a group limit
    // (per-map-task partial top-k -- the 100 TB shape)
    assert(capped.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("textRankKeywords: one fixed-point iteration matches hand arithmetic") {
    import spark.implicits._
    // graph: a-b weight 3 (two adjacencies in doc 1 + one reversed),
    // b-c weight 1; wdeg a=3, b=4, c=1; n=3; r0 = 1e12 div 3 each
    val d = Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
    val r = TextAnalysis.textRankKeywords(d, iters = 1, topK = 3)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    // base = (15e12 div 100) div 3 = 50000000000; contribs truncate:
    // a: 85*((1e12div3*3)div4)div100        = 212499999999
    // b: 85*((1e12div3*3)div3 + 1e12div3)div100 = 566666666666
    // c: 85*((1e12div3*1)div4)div100        = 70833333333
    assert(r.toSeq == Seq(
      ("b", 616666666666L, 1L),
      ("a", 262499999999L, 2L),
      ("c", 120833333333L, 3L)))
    // partition-invariance: integer sums are order-independent
    val r7 = TextAnalysis.textRankKeywords(d.repartition(7), iters = 1, topK = 3)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r7.toSeq == r.toSeq)
  }

  test("join hints steer the physical strategy, never the result") {
    import spark.implicits._
    val dim = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    val fact = (1L to 100L).map(i => (i, i % 2 + 1)).toDF("id", "k")
    dim.createOrReplaceTempView("hint_dim")
    fact.createOrReplaceTempView("hint_fact")
    def q(hint: String) = spark.sql(
      s"SELECT $hint name, count(*) AS n FROM hint_fact f " +
        "JOIN hint_dim d ON f.k = d.k GROUP BY name ORDER BY name")
    val b = q("/*+ BROADCAST(d) */")
    val m = q("/*+ MERGE(d) */")
    assert(b.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(m.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    assert(b.collect().toSeq == m.collect().toSeq) // strategy, not semantics
  }

  test("triangleCounts: known graphs, input normalization, equals brute force") {
    import spark.implicits._
    def run(pairs: Seq[(String, String)]): Map[String, Long] =
      Graph.triangleCounts(pairs.toDF("src", "dst"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // K4: 4 triangles, every node in 3 of them
    val k4 = for (a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d"); if a < b) yield (a, b)
    assert(run(k4) == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // path and star are triangle-free -> empty result
    assert(run(Seq(("a", "b"), ("b", "c"), ("c", "d"))).isEmpty)
    assert(run(Seq(("hub", "x"), ("hub", "y"), ("hub", "z"))).isEmpty)
    // self-loops, duplicates and reversed pairs must not mint triangles
    assert(run(Seq(("a", "b"), ("b", "a"), ("a", "a"), ("b", "c"), ("c", "b"),
      ("a", "c"), ("a", "c"))) == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
    // pseudo-random graph vs brute force over all ordered node triples
    val nodes = (0 until 12).map(i => s"n$i")
    val rng = Seq.tabulate(40) { i =>
      (nodes(graft.functions.Hashing.splitmix64(i).toInt.abs % 12),
       nodes(graft.functions.Hashing.splitmix64(i + 100).toInt.abs % 12))
    }.filter { case (a, b) => a != b }
    val edgeSet = rng.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    val brute = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (Seq(a, b, c) <- nodes.sorted.combinations(3)
         if edgeSet((a, b)) && edgeSet((b, c)) && edgeSet((a, c));
         n <- Seq(a, b, c)) brute(n) += 1
    assert(run(rng) == brute.toMap)
  }

  test("kCore: multi-round cascade, convergence, equals peeling fixpoint") {
    import spark.implicits._
    def run(pairs: Seq[(String, String)], k: Int, rounds: Int): Map[String, Long] =
      Graph.kCore(pairs.toDF("src", "dst"), k, rounds)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // path a-b-c-d-e at k=2: endpoints peel, cascade eats the whole
    // path over successive rounds — one round is NOT enough
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    assert(run(path, 2, 1).nonEmpty) // after 1 round interior survives
    assert(run(path, 2, 4).isEmpty)  // converged: no 2-core in a path
    // K4 plus a pendant at k=3: pendant peels, K4 survives as the core
    val k4 = for (x <- Seq("p", "q", "r", "s"); y <- Seq("p", "q", "r", "s"); if x < y) yield (x, y)
    val g = k4 :+ (("p", "tail"))
    assert(run(g, 3, 3) == Map("p" -> 3L, "q" -> 3L, "r" -> 3L, "s" -> 3L))
    // fixpoint equality vs a reference peel
    def refCore(pairs: Seq[(String, String)], k: Int): Map[String, Long] = {
      val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var nodes = adj.keySet
      var done = false
      while (!done) {
        val drop = nodes.filter(n => (adj(n) & nodes).size < k)
        if (drop.isEmpty) done = true else nodes = nodes -- drop
      }
      nodes.map(n => n -> (adj(n) & nodes).size.toLong).toMap
    }
    val rng = Seq.tabulate(30) { i =>
      (s"n${graft.functions.Hashing.splitmix64(i).toInt.abs % 10}",
       s"n${graft.functions.Hashing.splitmix64(i + 50).toInt.abs % 10}")
    }.filter { case (a, b) => a != b }
    assert(run(rng, 3, 6) == refCore(rng, 3))
  }

  test("integerPageRank: node without inbound edges keeps its teleport rank") {
    import spark.implicits._
    // a -> b, b <-> c: every node has out-degree >= 1, but a has no
    // inbound edges — it must stay in the result at the teleport rank
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "b", 1L))
      .toDF("src", "dst", "wt")
    val r = Graph.integerPageRank(edges, iters = 2).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.keySet == Set("a", "b", "c"))
    assert(r("a") == (15L * Graph.Scale / 100) / 3) // pure teleport
    assert(r("b") > r("a") && r("c") > r("a"))
  }

  test("integerPageRank: star center dominates, mass conserved up to truncation") {
    import spark.implicits._
    // undirected star: center c linked to 4 leaves (both directions)
    val leaves = Seq("l1", "l2", "l3", "l4")
    val edges = (leaves.map(l => ("c", l, 1L)) ++ leaves.map(l => (l, "c", 1L)))
      .toDF("src", "dst", "wt")
    val r = Graph.integerPageRank(edges, iters = 3).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.keySet == (leaves.toSet + "c"))
    leaves.foreach(l => assert(r("c") > r(l)))
    assert(leaves.map(r).distinct.size == 1) // symmetry: leaves tie exactly
    // total mass stays within truncation loss of Scale (each div loses < 1)
    val total = r.values.sum
    assert(total <= Graph.Scale && total >= Graph.Scale - 1000L)
  }

  test("integerPageRank: dangling node conserves mass on a directed graph") {
    import spark.implicits._
    // a -> b with b a pure sink: b must appear in the node universe
    // (dst-only) and its mass must redistribute, not leak. One round,
    // hand-computed: init r = Scale/2 each; contrib(b) = 5e11;
    // dsum = b's 5e11, share 2.5e11 each; teleport = 7.5e10.
    val edges = Seq(("a", "b", 1L)).toDF("src", "dst", "wt")
    val r1 = Graph.integerPageRank(edges, iters = 1).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r1.keySet == Set("a", "b"))
    assert(r1("a") == 287500000000L, s"a got ${r1("a")}")
    assert(r1("b") == 712500000000L, s"b got ${r1("b")}")
    assert(r1.values.sum == Graph.Scale) // exact conservation this round
    // deeper run: mass stays within truncation loss of Scale
    val r3 = Graph.integerPageRank(edges, iters = 3).collect()
      .map(x => x.getLong(1)).sum
    assert(r3 <= Graph.Scale && r3 >= Graph.Scale - 1000L)
    // graphs without dangling nodes are bit-identical with the
    // dangling term (a zero dangling sum contributes exactly 0): the
    // star spec above and the n76/n89 oracles hold unchanged
  }

  test("trustRank: hand-computed seeded rounds, degeneracy and seed-decay laws") {
    import spark.implicits._
    // a -> b with b a pure sink, seed = {a}, ns = 1: every division is
    // by 1, so rounds are EXACT. r0 = (S, 0).
    // Round 1: dsum = r0(b) = 0; csum(b) = S;
    //   a = 0.15S + 0.85*0 = 150e9; b = 0 + 0.85S = 850e9. Sum = S.
    // Round 2: dsum = 850e9 (b is dangling, mass re-enters at the seed);
    //   csum(b) = 150e9;
    //   a = 150e9 + (85*850e9)/100 = 872_500_000_000;
    //   b = 0 + (85*150e9)/100   = 127_500_000_000. Sum = S.
    val edges = Seq(("a", "b", 1L)).toDF("src", "dst", "wt")
    val seedA = Seq("a").toDF("node")
    val r1 = Graph.trustRank(edges, seedA, iters = 1).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r1 == Map("a" -> 150000000000L, "b" -> 850000000000L))
    val r2 = Graph.trustRank(edges, seedA, iters = 2).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r2 == Map("a" -> 872500000000L, "b" -> 127500000000L))
    assert(r2.values.sum == Graph.Scale) // exact: all shares divide by ns=1
    // degeneracy law: seeds = the whole node universe makes the
    // teleport uniform and the dangling share dsum div n — bit-exactly
    // integerPageRank's update, so the results must be IDENTICAL
    val allSeeds = Seq("a", "b").toDF("node")
    val tr = Graph.trustRank(edges, allSeeds, iters = 3).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val pr = Graph.integerPageRank(edges, iters = 3).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(tr == pr, "all-nodes seed set must degenerate to integerPageRank")
    // on a dangling-free graph (the symmetric star) authority decays
    // with distance from the seed
    val leaves = Seq("l1", "l2", "l3", "l4")
    val star = (leaves.map(l => ("c", l, 1L)) ++ leaves.map(l => (l, "c", 1L)))
      .toDF("src", "dst", "wt")
    val seedC = Seq("c").toDF("node")
    val onStar = Graph.trustRank(star, seedC, iters = 3).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(onStar("c") > onStar("l1") && onStar("l1") == onStar("l4"))
    // a seed absent from the graph is a misuse, not a silent zero-rank
    val ghost = Seq("zz-not-in-graph").toDF("node")
    intercept[IllegalArgumentException] {
      Graph.trustRank(edges, ghost, iters = 1)
    }
  }

  test("hits: hand-computed rounds, cycle/star/weight laws, mass conservation") {
    import spark.implicits._
    val S = Graph.Scale
    // a -> b, n = 2, h0 = S/2 each. Round 1: araw(b) = S/2, asum = S/2
    // -> auth(b) = S, auth(a) = 0; hraw(a) = auth(b) = S, hsum = S ->
    // hub(a) = S, hub(b) = 0. This IS the fixpoint: iters = 3 agrees.
    val ab = Seq(("a", "b", 1L)).toDF("src", "dst", "wt")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val h1 = asMap(Graph.hits(ab, iters = 1))
    assert(h1 == Map("a" -> (S, 0L), "b" -> (0L, S)))
    assert(asMap(Graph.hits(ab, iters = 3)) == h1, "a->b fixpoint is immediate")
    // 4-cycle symmetrized (2-regular): uniform is the fixpoint and the
    // integer arithmetic holds it exactly (S divisible by 4)
    val ring = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a")
    val cyc = (ring ++ ring.map(_.swap)).map { case (u, v) => (u, v, 1L) }
      .toDF("src", "dst", "wt")
    val hc = asMap(Graph.hits(cyc, iters = 2))
    assert(hc.values.toSet == Set((S / 4, S / 4)),
      "regular symmetric graph: hubs == auths == uniform, exactly")
    // bipartite star u1,u2,u3 -> v: authority concentrates on v (= S),
    // hub mass splits S div 3 across the pointers, cross terms 0
    val star = Seq(("u1", "v", 1L), ("u2", "v", 1L), ("u3", "v", 1L))
      .toDF("src", "dst", "wt")
    val hs = asMap(Graph.hits(star, iters = 2))
    assert(hs("v") == (0L, S))
    assert(hs("u1") == (S / 3, 0L) && hs("u2") == hs("u1") && hs("u3") == hs("u1"))
    // weights steer authority: a->b at wt 3 vs a->c at wt 1 splits
    // auth 75/25 (exact: the h0 factor cancels in the normalization)
    val w = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "wt")
    val hw = asMap(Graph.hits(w, iters = 1))
    assert(hw("b")._2 == 750000000000L && hw("c")._2 == 250000000000L)
    // L1 mass conservation: each vector re-sums to S minus < 1 unit of
    // floor loss per node
    val sums = Graph.hits(cyc.unionAll(star), iters = 2)
      .agg(sum(col("hub")), sum(col("auth"))).head()
    val n = 9L
    assert(sums.getLong(0) > S - n && sums.getLong(0) <= S)
    assert(sums.getLong(1) > S - n && sums.getLong(1) <= S)
    intercept[IllegalArgumentException] { Graph.hits(ab, iters = 0) }
    intercept[IllegalArgumentException] {
      Graph.hits(Seq.empty[(String, String, Long)].toDF("src", "dst", "wt"),
        iters = 1)
    }
  }

  test("gopherRules: each rule pinned by a constructed violator") {
    import spark.implicits._
    def doc(id: Long, text: String) = (id, text)
    val good = (Seq.fill(60)("word") ++ Seq("the", "and")).mkString(" ")
    val docs = Seq(
      doc(1L, good),                                     // passes all 8
      doc(2L, "the and word word word"),                 // word count 5 < 50
      doc(3L, (Seq.fill(60)("a") ++ Seq("the", "and")).mkString(" ")), // mean len < 3
      doc(4L, good + " # # # # # # #"),                  // 7 hashes, 10*7 > 69 words
      doc(5L, good + "\n" + Seq.fill(10)("- x").mkString("\n")), // 10/11 bullet lines
      doc(6L, good + "\n" + Seq.fill(2)("so on...").mkString("\n")), // 2/3 ellipsis
      doc(7L, (Seq.fill(50)("word") ++ Seq.fill(20)("42") ++
        Seq("the", "and")).mkString(" ")),               // 52/72 alpha < 80%
      doc(8L, Seq.fill(60)("word").mkString(" ") + " the"), // 1 stopword kind
      // Rae et al. gate the hash ratio and ellipsis ratio SEPARATELY
      // ("either"): 4 hashes + 4 ellipses over 70 words is ~0.057 each
      // — both under 0.1 so both flags pass, while the pre-r10 summed
      // count (8, 10*8 > 70) wrongly failed the doc; doc 10 crosses
      // the bar on ellipses alone
      doc(9L, good + " # # # # … … … …"),               // 4+4 over 70 words
      doc(10L, good + " … … … … … … … …")               // 8 ellipses, 10*8 > 70
    ).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Boolean]("gopher_pass"))
    assert(!r(2L).getAs[Boolean]("ok_word_count") &&
      r(2L).getAs[Boolean]("ok_stopwords"))
    assert(!r(3L).getAs[Boolean]("ok_mean_word_len"))
    assert(!r(4L).getAs[Boolean]("ok_hash_ratio"))
    assert(r(4L).getAs[Boolean]("ok_ellipsis_ratio"),
      "hash spam must not fail the ellipsis flag — the ratios are separate")
    assert(r(4L).getAs[Boolean]("ok_alpha_words"),
      "7 '#' tokens out of 69 words stays above the 80% alpha bar")
    assert(!r(5L).getAs[Boolean]("ok_bullet_lines"))
    assert(!r(6L).getAs[Boolean]("ok_ellipsis_lines"))
    assert(!r(7L).getAs[Boolean]("ok_alpha_words"))
    assert(!r(8L).getAs[Boolean]("ok_stopwords"))
    assert(r(9L).getAs[Boolean]("ok_hash_ratio") &&
      r(9L).getAs[Boolean]("ok_ellipsis_ratio"),
      "0.06 hash + 0.06 ellipsis passes Gopher (the paper's 'either')")
    assert(!r(10L).getAs[Boolean]("ok_ellipsis_ratio") &&
      r(10L).getAs[Boolean]("ok_hash_ratio"))
    Seq(2L, 3L, 4L, 5L, 6L, 7L, 8L, 10L).foreach(id =>
      assert(!r(id).getAs[Boolean]("gopher_pass"), s"doc $id must fail the gate"))
    // the '…' single-char ellipsis counts like '...' does
    val uni = TextAnalysis.gopherRules(
      Seq((9L, "first line here\nsecond goes on…\nthird goes on…"))
        .toDF("doc_id", "text")).head()
    assert(uni.getAs[Long]("n_ellipsis_lines") == 2L &&
      !uni.getAs[Boolean]("ok_ellipsis_lines"))
  }

  test("rankBiasedOverlap: hand-computed depths, identity/disjoint laws, no-overlap queries") {
    import spark.implicits._
    def rel(rows: Seq[(Long, Long, Long)]) =
      rows.toDF("query_id", "vec_id", "rank")
    // q1: A = x(1) y(2) z(3); B = x(1) z(2) w(3) -> m(x)=1, m(z)=3:
    // c_1=1, c_2=1, c_3=2; with p=0.5 the fold replays exactly
    val a = rel(Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L)))
    val b = rel(Seq((1L, 10L, 1L), (1L, 12L, 2L), (1L, 13L, 3L)))
    val r = Similarity.rankBiasedOverlap(a, b, k = 3, p = 0.5).head()
    val expBase = 0.5 * (((0.0 + 1.0 * (1.0 / 1.0)) + 0.5 * (1.0 / 2.0)) +
      0.25 * (2.0 / 3.0)) // the engine's exact left-to-right fold
    assert(r.getAs[Long]("n_overlap_k") == 2L)
    assert(r.getAs[Double]("rbo_base") == expBase)
    assert(r.getAs[Double]("rbo_ext") == expBase + 0.125 * (2.0 / 3.0))
    // identity law at p=0.5: base = 1 - p^k and ext = 1.0, EXACTLY
    // (powers of two are exact in binary floating point)
    val same = Similarity.rankBiasedOverlap(a, a, k = 3, p = 0.5).head()
    assert(same.getAs[Double]("rbo_base") == 0.875 &&
      same.getAs[Double]("rbo_ext") == 1.0)
    // disjoint rankings score 0 but the query stays present; so does a
    // query only one side ranked
    val c = rel(Seq((1L, 20L, 1L), (1L, 21L, 2L), (1L, 22L, 3L),
      (2L, 30L, 1L)))
    val dj = Similarity.rankBiasedOverlap(a, c, k = 3, p = 0.5)
      .collect().map(x => x.getAs[Long]("query_id") ->
        (x.getAs[Long]("n_overlap_k"), x.getAs[Double]("rbo_ext"))).toMap
    assert(dj == Map(1L -> (0L, 0.0), 2L -> (0L, 0.0)))
    intercept[IllegalArgumentException] {
      Similarity.rankBiasedOverlap(a, b, k = 100)
    }
  }

  test("keywordVoteLabel: majority vote, deterministic ties, abstain, case folding") {
    import spark.implicits._
    val rules = Seq(("apple", "fruit"), ("banana", "fruit"), ("date", "fruit"),
      ("carrot", "veg"))
    val docs = Seq(
      (1L, "apple banana carrot"), // fruit 2, veg 1 -> fruit
      (2L, "apple carrot"),        // 1-1 tie -> alphabetically first: fruit
      (3L, "carrot soup today"),   // veg only
      (4L, "nothing matches here"),// abstain
      (5L, "APPLE pie")            // tokens lowercase before matching
    ).toDF("doc_id", "text")
    val r = TextAnalysis.keywordVoteLabel(docs, rules).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[String]("label"), x.getAs[Long]("n_votes"),
          x.getAs[Long]("n_fired"))).toMap
    assert(r(1L) == ("fruit", 2L, 3L))
    assert(r(2L) == ("fruit", 1L, 2L), "ties break to the first label")
    assert(r(3L) == ("veg", 1L, 1L))
    assert(r(4L) == ("abstain", 0L, 0L))
    assert(r(5L) == ("fruit", 1L, 1L))
    // a rule fires on whole tokens, not substrings
    val sub = TextAnalysis.keywordVoteLabel(
      Seq((6L, "pineapple only")).toDF("doc_id", "text"), rules).head()
    assert(sub.getAs[String]("label") == "abstain")
    // single-label rule sets take the no-greatest path
    val one = TextAnalysis.keywordVoteLabel(
      Seq((7L, "apple apple")).toDF("doc_id", "text"),
      Seq(("apple", "fruit"))).head()
    assert(one.getAs[String]("label") == "fruit" &&
      one.getAs[Long]("n_votes") == 1L)
  }

  test("c4Clean: line rules, page gates, order-preserving reassembly") {
    import spark.implicits._
    val keepA = "alpha beta gamma delta epsilon."
    val keepB = "one two three four five six!"
    val docs = Seq(
      // 3 sentences, two surviving lines in order, two line-rule drops
      (1L, s"$keepA\nshort line.\nno terminal punct at all here\n$keepB"),
      // javascript drops the LINE, not the page
      (2L, s"$keepA\nthis page needs JavaScript to render properly.\n$keepB"),
      // curly brace drops the PAGE; lines still reported for audit
      (3L, s"$keepA\n$keepB\nvar x = { a: 1 }."),
      // lorem ipsum placeholder drops the page
      (4L, s"$keepA\nLorem Ipsum dolor sit amet forever.\n$keepB"),
      // under 3 sentences drops the page even with a surviving line
      (5L, s"$keepA\nwords without any stops"),
      // blocklisted token drops the page (case-insensitive whole word)
      (6L, s"$keepA\nthe Forbidden word appears here today.\n$keepB")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.c4Clean(docs, blocklist = Seq("forbidden")).collect()
      .map(x => (x.getAs[Long]("doc_id"), x)).toMap
    assert(r(1L).getAs[Boolean]("kept") && r(1L).getAs[Long]("n_lines_kept") == 2L)
    assert(r(1L).getAs[String]("text_clean") == s"$keepA\n$keepB",
      "surviving lines keep their original order")
    assert(r(2L).getAs[Boolean]("kept") && r(2L).getAs[Long]("n_lines_kept") == 2L,
      "javascript is a line rule, not a page rule")
    assert(!r(3L).getAs[Boolean]("kept") && r(3L).getAs[Long]("n_lines_kept") >= 2L)
    assert(!r(4L).getAs[Boolean]("kept"))
    assert(!r(5L).getAs[Boolean]("kept") &&
      r(5L).getAs[Long]("n_sentences") == 1L)
    assert(!r(6L).getAs[Boolean]("kept"),
      "blocklist matches whole lowercase tokens")
    // empty-survivor docs keep their row with an empty clean text
    val none = TextAnalysis.c4Clean(
      Seq((7L, "no punct here\nalso none")).toDF("doc_id", "text")).head()
    assert(none.getAs[Long]("n_lines_kept") == 0L &&
      none.getAs[String]("text_clean") == "" &&
      !none.getAs[Boolean]("kept"))
  }

  test("pageRankConverged: approaches the analytic fixpoint past the iters<=8 bound") {
    import spark.implicits._
    val leaves = Seq("l1", "l2", "l3", "l4")
    val star = (leaves.map(l => ("c", l, 1L)) ++ leaves.map(l => (l, "c", 1L)))
      .toDF("src", "dst", "wt")
    // analytic fixpoint of the damped system on the 4-leaf star:
    // c = 0.03 + 0.85·4·l, l = 0.03 + 0.2125·c  ⇒  c = 0.132/0.2775,
    // l = (c − 0.03)/3.4 — in 1e-12 units c ≈ 475_675_675_675,
    // l ≈ 131_081_081_081. The oscillation decays at 0.85/round, so
    // iters = 8 still sits ~2.7e10 away — run-to-convergence is the
    // only way to land near the fixpoint, which is the point of the
    // checkpointed variant. Stopping at round-delta <= tol leaves at
    // most ~tol·0.85/0.15 ≈ 5.7·tol of residual.
    val conv = Graph.pageRankConverged(star, tol = 2000000000L, maxIter = 40)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(conv.keySet == (leaves.toSet + "c"))
    assert(math.abs(conv("c") - 475675675675L) <= 25000000000L,
      s"center ${conv("c")} too far from the analytic fixpoint")
    leaves.foreach(l => assert(math.abs(conv(l) - 131081081081L) <= 25000000000L))
    assert(leaves.map(conv).distinct.size == 1) // symmetry: leaves tie exactly
    // tighter tol must land strictly closer than the iters=8 fixed run
    val fixed8 = Graph.integerPageRank(star, iters = 8).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(math.abs(conv("c") - 475675675675L) <
      math.abs(fixed8("c") - 475675675675L),
      "convergence must beat the lineage-bounded fixed run")
    // directed chain with a sink: converges with the dangling term,
    // mass conserved up to truncation
    val chain = Seq(("a", "b", 1L), ("b", "c", 1L)).toDF("src", "dst", "wt")
    val rc = Graph.pageRankConverged(chain, tol = 2000000000L, maxIter = 40)
      .collect().map(x => x.getLong(1)).sum
    assert(rc <= Graph.Scale && rc >= Graph.Scale - 3000L)
  }

  test("iterative family budget: jobs within the parent figures, one RDD held per call") {
    import spark.implicits._
    val sc = spark.sparkContext
    val d = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L), ("c", "d", 2L),
      ("e", "a", 1L)).toDF("src", "dst", "wt")
    val leaves = Seq("l1", "l2", "l3", "l4")
    val star = (leaves.map(l => ("c", l, 1L)) ++ leaves.map(l => (l, "c", 1L)))
      .toDF("src", "dst", "wt")
    // a 30-node ring with 6 chords: the 12 chord ends have degree 3
    val ringIds = (0 until 30).map(i => s"r$i")
    val ring = ((0 until 30).map(i => (s"r$i", s"r${(i + 1) % 30}")) ++
      (0 until 30 by 5).map(i => (s"r$i", s"r${(i + 12) % 30}"))).toDF("src", "dst")
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("src", "dst")
    val sep = Seq(0L -> Seq(10f, 0f), 1L -> Seq(0f, 10f), 2L -> Seq(9f, 1f),
      3L -> Seq(10f, 0.5f), 4L -> Seq(1f, 9f), 5L -> Seq(0.2f, 10f)).toDF("vec_id", "embedding")
    type Rows = Array[org.apache.spark.sql.Row]
    def nodes(expect: Set[String]): Rows => Boolean = _.map(_.getString(0)).toSet == expect
    val ringCore: Rows => Boolean = rs =>
      nodes(ringIds.toSet)(rs) && rs.map(_.getLong(1)).sum == 72L
    // bound: the jobs each call started plus the jobs of its first
    // collect before the call ran on the shared round loop (local[4],
    // 4 partitions, AQE off); the star row was the `symmetrized = true`
    // call, 7-9 + 1; labelPropagation and kMeans may spend one more job
    // than their parent 3 + 1 and 5 + 2, on the init probe
    val budget = Seq[(String, () => org.apache.spark.sql.DataFrame, Int, Rows => Boolean)](
      ("integerPageRank(D, 3)", () => Graph.integerPageRank(d, 3), 16 + 1,
        nodes(Set("a", "b", "c", "d", "e"))),
      ("integerPageRank(star, 3)", () => Graph.integerPageRank(star, 3), 7 + 1,
        nodes(leaves.toSet + "c")),
      ("trustRank(D, {a}, 3)", () => Graph.trustRank(d, Seq("a").toDF("node"), 3), 13 + 1,
        nodes(Set("a", "b", "c", "d", "e"))),
      ("pageRankConverged(star, 2e9, 40)",
        () => Graph.pageRankConverged(star, 2000000000L, 40), 223, nodes(leaves.toSet + "c")),
      ("pageRankConverged(D, 2e9, 40)", () => Graph.pageRankConverged(d, 2000000000L, 40), 69,
        nodes(Set("a", "b", "c", "d", "e"))),
      ("kCore(ring, 2, 4)", () => Graph.kCore(ring, 2, 4), 8 + 1, ringCore),
      ("kCoreConverged(ring, 2)", () => Graph.kCoreConverged(ring, 2), 4 + 1, ringCore),
      ("labelPropagation(triangles, 3)", () => Graph.labelPropagation(tri, 3), 3 + 1 + 1,
        _.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
          Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L)),
      ("kMeans(sep, 2, 2)", () => graft.ops.Clustering.kMeans(sep, 2, 2), 5 + 2 + 1, { rs =>
        val c = rs.map(r => r.getLong(0) -> r.getLong(1)).toMap
        c.size == 6 && c(0L) == c(2L) && c(0L) == c(3L) && c(1L) == c(4L) &&
          c(1L) == c(5L) && c(0L) != c(1L)
      }),
      ("hits(D, 2)", () => Graph.hits(d, 2), 16 + 1, nodes(Set("a", "b", "c", "d", "e"))))
    for ((call, run, bound, check) <- budget) {
      val before = sc.getPersistentRDDs.keySet
      val ((result, held), callJobs) = countingJobs {
        val r = run()
        // read straight after the call: the registry holds RDDs weakly,
        // so a GC before the read could hide a leaked, unreferenced one
        (r, sc.getPersistentRDDs.keySet -- before)
      }
      val (rows, collectJobs) = countingJobs(result.collect())
      assert(callJobs + collectJobs <= bound,
        s"$call ran $callJobs + $collectJobs jobs, bound $bound")
      assert(held.size == 1, s"$call left ${held.size} persisted RDDs: $held")
      assert(sc.getPersistentRDDs.keySet -- before == held,
        s"$call: the collect changed the persisted RDDs")
      assert(check(rows), s"$call returned ${rows.mkString(" ")}")
      held.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    }
    // a converging round costs one job (its probe), whatever maxIter
    // allows; at tol 0 the star is still oscillating after 6 rounds
    def converged(maxIter: Int) =
      countingJobs(Graph.pageRankConverged(star, 0L, maxIter))._2
    assert(converged(6) - converged(5) == 1)
    // an empty edge relation ranks nothing (no row divides by ns = 0)
    val empty = Seq.empty[(String, String, Long)].toDF("src", "dst", "wt")
    assert(Graph.integerPageRank(empty, 2).count() == 0L)
    assert(Graph.pageRankConverged(empty, 10L, 3).count() == 0L)
  }

  test("kCoreConverged: peels past the fixed-round bound to the true fixpoint") {
    import spark.implicits._
    // a 20-node path at k=2 peels from both ends — needs 10 rounds,
    // beyond kCore's rounds<=6 lineage bound
    val path = (0 until 19).map(i => (s"p$i", s"p${i + 1}"))
    val after6 = Graph.kCore(path.toDF("src", "dst"), 2, 6)
    assert(after6.count() > 0, "6 rounds must NOT finish a 20-node path")
    val conv = Graph.kCoreConverged(path.toDF("src", "dst"), 2)
    assert(conv.count() == 0, "no 2-core exists in a path")
    // fixpoint equality vs kCore where kCore already converges
    val k4 = for (x <- Seq("p", "q", "r", "s"); y <- Seq("p", "q", "r", "s"); if x < y) yield (x, y)
    val g = (k4 :+ (("p", "tail"))).toDF("src", "dst")
    val a = Graph.kCoreConverged(g, 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Graph.kCore(g, 3, 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("marginMine: ratio margin matches hand math, ranks by margin, refuses oversized A") {
    import spark.implicits._
    // 2-D fixture with hand-computable cosines: A = axes, B = axes +
    // one diagonal. k=2 neighborhood sums (rank-ordered):
    //   sumx(a0)=1+0.6, sumx(a2)=1+0.8; sumy(b1)=1, sumy(b3)=0.8+0.6,
    //   sumy(b5)=1 — margins 2k·cos/(sumx+sumy) follow
    val A = Seq((0L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val B = Seq((1L, Array(1f, 0f)), (3L, Array(0.6f, 0.8f)), (5L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.marginMine(A, B, k = 2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(3), r.getInt(4)))).toMap
    def close(x: Double, y: Double) = math.abs(x - y) < 1e-5
    assert(got.size == 4) // two forward candidates per A vector
    assert(close(got((0L, 1L))._1, 4.0 / 2.6) && got((0L, 1L))._2 == 1)
    assert(close(got((0L, 3L))._1, 0.8) && got((0L, 3L))._2 == 2)
    assert(close(got((2L, 5L))._1, 4.0 / 2.8) && got((2L, 5L))._2 == 1)
    // the diagonal pairs BOTH axes but its dense neighborhood divides
    // it down — the hub-normalization property the margin exists for
    assert(close(got((2L, 3L))._1, 1.0) && got((2L, 3L))._2 == 2)
    val e = intercept[IllegalArgumentException](
      Similarity.marginMine(A, B, 2, maxSide = 1L))
    assert(e.getMessage.contains("marginMine"))
  }

  test("marginMineShortlist: covering shortlists reproduce marginMine exactly; holes degrade gracefully") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val A = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 40)
    val B = emb.filter(col("vec_id") % 2 === 1 && col("vec_id") < 200)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("src_id", "dst_id", "cos", "margin", "mrank")
        .collect().map(_.toSeq).toSet
    val full = rows(Similarity.marginMine(A, B, k = 3))
    // degradation law, strongest form: the COMPLETE bipartite candidate
    // set contains every forward and backward top-k pair, so the
    // shortlist path must be bit-identical to the guarded cross-scorer
    val allPairs = A.select(col("vec_id").as("src_id"))
      .crossJoin(B.select(col("vec_id").as("dst_id")))
    assert(rows(Similarity.marginMineShortlist(A, B, allPairs, k = 3)) == full,
      "complete candidates must reproduce marginMine bit-for-bit")
    // covering-but-minimal: exactly the forward top-k per src and
    // backward top-k per dst (built with the same kernel + tie-break)
    val scored = A.select(col("vec_id").as("src_id"), col("embedding").as("ae"))
      .crossJoin(B.select(col("vec_id").as("dst_id"), col("embedding").as("be")))
      .select(col("src_id"), col("dst_id"),
        cosine_similarity(col("ae"), col("be")).as("c"))
    val wfx = org.apache.spark.sql.expressions.Window
      .partitionBy("src_id").orderBy(col("c").desc, col("dst_id"))
    val wfy = org.apache.spark.sql.expressions.Window
      .partitionBy("dst_id").orderBy(col("c").desc, col("src_id"))
    val covering = scored.withColumn("rx", row_number().over(wfx))
      .withColumn("ry", row_number().over(wfy))
      .filter(col("rx") <= 3 || col("ry") <= 3)
      .select("src_id", "dst_id")
    assert(rows(Similarity.marginMineShortlist(A, B, covering, k = 3)) == full,
      "a shortlist covering both top-k neighborhoods must be identical")
    // below the bar the hypothesis is load-bearing: removing one src's
    // best candidate changes that src's margins (and only degrades —
    // row count per src never grows)
    val bestPair = Similarity.marginMine(A, B, k = 3)
      .filter(col("mrank") === 1).select("src_id", "dst_id").limit(1).head()
    val holed = covering.filter(!(col("src_id") === bestPair.getLong(0) &&
      col("dst_id") === bestPair.getLong(1)))
    val degraded = rows(Similarity.marginMineShortlist(A, B, holed, k = 3))
    assert(degraded != full, "removing a top-k candidate must change the result")
    // a src absent from the candidates emits nothing
    val noSrc = covering.filter(col("src_id") =!= 0L)
    val without = Similarity.marginMineShortlist(A, B, noSrc, k = 3)
      .filter(col("src_id") === 0L).count()
    assert(without == 0L)
  }

  test("mmrSelectShortlist composes with the IVF retriever (the 100 TB path end to end)") {
    // the scale composition the operator exists for: an ANN retriever
    // bounds the greedy scan. With an exhaustive probe (nProbe =
    // nLists) IVF's top-20 IS the exact top-20 (the n16 identity), so
    // the covering-shortlist law applies and the composed result must
    // equal full-corpus mmrSelect exactly — swap in a partial probe at
    // scale and the same plumbing degrades recall, never correctness
    // of the greedy replay over what was retrieved
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = Ivf.build(emb, nLists = 8, nRows = emb.count())
    val short = Ivf.search(idx, emb.filter(col("vec_id") === 0L), 20, nProbe = 8)
    val viaIvf = Similarity.mmrSelectShortlist(emb, short, 0L, 4, 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    val full = Similarity.mmrSelect(emb, 0L, 4, 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(viaIvf == full, s"IVF-shortlisted MMR diverged: $viaIvf != $full")
  }

  test("Iterate.lazyCheckpointed: building the checkpoint runs the plan's broadcasts, nothing else") {
    // a broadcast-free plan runs no job until an action consumes it
    val (free, freeJobs) = countingJobs(Iterate.lazyCheckpointed(
      spark.range(1000).groupBy((col("id") % 7).as("k")).count()))
    assert(freeJobs == 0)
    // a crossJoin against an aggregate broadcasts the aggregate: building
    // the checkpoint's RDD runs that broadcast, one job at call time
    val agg = spark.range(1000).agg(sum("id").as("s"))
    val (bc, bcJobs) = countingJobs(
      Iterate.lazyCheckpointed(spark.range(1000).crossJoin(agg)))
    assert(bcJobs == 1)
    assert(free.count() == 7L && bc.count() == 1000L)
    Iterate.releaseCheckpointed(free)
    Iterate.releaseCheckpointed(bc)
  }

  test("Iterate.releaseCheckpointed rejects a derived plan; the live checkpoint under it stays readable") {
    val ckpt = spark.range(1000).toDF("id").localCheckpoint(eager = true)
    val derived = ckpt.filter(col("id") % 2 === 0).join(ckpt, "id")
    intercept[IllegalArgumentException](Iterate.releaseCheckpointed(derived))
    // a local checkpoint cannot recompute: had its blocks been dropped,
    // these reads would fail
    assert(derived.count() == 500)
    assert(ckpt.agg(sum("id")).head().getLong(0) == 999L * 1000 / 2)
    Iterate.releaseCheckpointed(ckpt) // the checkpoint itself is accepted
  }

  test("Iterate.checkpointed: reliable branch with a checkpoint dir set, files written, cleaned up") {
    import spark.implicits._
    // every other run in the suite takes the localCheckpoint fallback
    // (no dir configured); this is the ONE place the reliable branch —
    // the production path, where a lost executor cannot kill the
    // iteration — is exercised end to end (VERDICT r8 #5)
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-")
    try {
      sc.setCheckpointDir(dir.toString)
      assert(sc.getCheckpointDir.isDefined)
      // the converged kernels and HITS, green through the reliable path,
      // same fixpoints the localCheckpoint specs prove
      val path = (0 until 19).map(i => (s"p$i", s"p${i + 1}"))
      assert(Graph.kCoreConverged(path.toDF("src", "dst"), 2).count() == 0L)
      val leaves = Seq("l1", "l2", "l3", "l4")
      val star = (leaves.map(l => ("c", l, 1L)) ++ leaves.map(l => (l, "c", 1L)))
        .toDF("src", "dst", "wt")
      val conv = Graph.pageRankConverged(star, tol = 2000000000L, maxIter = 40)
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(conv.keySet == (leaves.toSet + "c"))
      assert(math.abs(conv("c") - 475675675675L) <= 25000000000L)
      // HITS on the bipartite star: authority on v, hub mass split 3 ways
      val hs = Graph.hits(Seq(("u1", "v", 1L), ("u2", "v", 1L), ("u3", "v", 1L))
          .toDF("src", "dst", "wt"), iters = 2)
        .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
      assert(hs == Map("v" -> (0L, Graph.Scale)) ++
        Seq("u1", "u2", "u3").map(_ -> (Graph.Scale / 3, 0L)))
      // proof the RELIABLE branch ran: checkpoint part-files exist
      // under the configured dir (localCheckpoint writes nothing here)
      val written = java.nio.file.Files.walk(dir).filter(p =>
        p.getFileName.toString.startsWith("part-")).count()
      assert(written > 0, "no reliable-checkpoint files written")
    } finally {
      // restore whatever was configured before (Option(null) = unset;
      // an exact path cannot be restored — setCheckpointDir nests a
      // fresh UUID subdir — so definedness is the restorable part) and
      // remove the temp dir: the spec must not leak checkpoint state
      // or files into the rest of the suite
      sc.setCheckpointDir(prev.orNull)
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
    assert(sc.getCheckpointDir.isDefined == prev.isDefined)
    assert(!java.nio.file.Files.exists(dir))
  }

  test("bruteForceTopK: refuses an oversized query side (allPairsExact convention)") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val e = intercept[IllegalArgumentException](
      Similarity.bruteForceTopK(emb, emb, 5, maxQueries = 10L))
    assert(e.getMessage.contains("bruteForceTopK"))
  }

  test("hardNegatives: excludes self + positives, renumbers ranks, degenerates to topK") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 2)
    val top = Similarity.bruteForceTopK(emb, queries, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    // positives = each query's OWN top-1, so the mined negatives must
    // be exactly ranks 2..6 of the unfiltered ranking, renumbered 1..5
    val pos = top.filter(_._3 == 1).map(p => (p._1, p._2)).toDF("query_id", "pos_id")
    val got = Similarity.hardNegatives(emb, queries, pos, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    val want = top.filter(_._3 >= 2).map(t => (t._1, t._2, t._3 - 1))
    assert(got.sorted == want.sorted)
    // ranks contiguous 1..5 per query
    assert(got.groupBy(_._1).values.forall(_.map(_._3).sorted == (1 to 5)))
    // with no positives the miner IS bruteForceTopK
    val none = Seq.empty[(Long, Long)].toDF("query_id", "pos_id")
    val free = Similarity.hardNegatives(emb, queries, none, k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    assert(free.sorted == top.sorted)
    // guard mirrors the brute-force convention
    intercept[IllegalArgumentException](
      Similarity.hardNegatives(emb, emb, none, 5, maxQueries = 10L))
  }

  test("mmrSelect: exact greedy replay with the engine kernel; λ=1 degenerates to topK") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.graft.SimilarityKernels
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def cos(a: Array[Float], b: Array[Float]): Double =
      SimilarityKernels.cosine(ArrayData.toArrayData(a), ArrayData.toArrayData(b))
    // driver-side replay of the greedy recurrence with IDENTICAL
    // double arithmetic (same kernel, same 0.75/0.25 literals, max =
    // greatest on non-NaN doubles, ties to lowest vec_id)
    val all = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qv = all(0L)
    val simq = (all - 0L).map { case (id, v) => id -> cos(v, qv) }
    var sel = Vector.empty[Long]
    for (_ <- 1 to 4) {
      val pick = (simq.keySet -- sel).map { id =>
        val pen = if (sel.isEmpty) 0.0 else sel.map(s => cos(all(id), all(s))).max
        (id, 0.75 * simq(id) - 0.25 * pen)
      }.toSeq.sortBy { case (id, sc) => (-sc, id) }.head
      sel :+= pick._1
    }
    val got = Similarity.mmrSelect(emb, 0L, 4, 0.75).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == sel.zipWithIndex.map { case (id, i) => (i + 1L, id) },
      s"engine picks $got != replay $sel")
    // λ=1: no penalty — greedy MMR IS the plain cosine top-k
    val free = Similarity.mmrSelect(emb, 0L, 5, 1.0).collect()
      .map(_.getLong(1)).toSeq
    val topk = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 5)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(free == topk)
    // guards
    intercept[IllegalArgumentException](Similarity.mmrSelect(emb, 0L, 0, 0.5))
    intercept[IllegalArgumentException](Similarity.mmrSelect(emb, 0L, 3, 1.5))
  }

  test("mmrSelectShortlist: covering shortlist replays mmrSelect exactly; dry pool returns partial") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val full = Similarity.mmrSelect(emb, 0L, 4, 0.75).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    // the exactness law's premise, asserted explicitly: the cosine
    // top-20 shortlist CONTAINS every id the full-corpus greedy picked
    // (if data ever changes, this fails loudly instead of the law
    // silently testing a weaker claim)
    val short = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0L), 20)
    val shortIds = short.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(full.map(_._2).forall(shortIds), s"premise broken: top-20 misses a pick")
    // shortlist ⊇ full picks ⇒ each step's full-corpus argmax is in
    // the candidate set and still wins there ⇒ IDENTICAL result,
    // scores included
    val viaShort = Similarity.mmrSelectShortlist(emb, short, 0L, 4, 0.75).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(viaShort == full, s"shortlist replay diverged: $viaShort != $full")
    // restriction is real: a shortlist missing the top pick must
    // select something else in step 1
    val withoutTop = short.filter(col("vec_id") =!= full.head._2)
    val diverged = Similarity.mmrSelectShortlist(emb, withoutTop, 0L, 1, 0.75)
      .collect().map(_.getLong(1)).toSeq
    assert(diverged.nonEmpty && diverged.head != full.head._2)
    // dry pool: k beyond the candidate count returns the partial
    // selection instead of throwing mid-loop (r8 ADVICE item), and an
    // absent queryId yields an empty selection, cache released either way
    val two = short.limit(2)
    val partial = Similarity.mmrSelectShortlist(emb, two, 0L, 5, 0.75).collect()
    assert(partial.length == 2, s"expected 2 partial picks, got ${partial.length}")
    assert(Similarity.mmrSelectShortlist(emb, short, 999999L, 3, 0.75).count() == 0L)
  }

  test("applyChangeset: upsert replaces, insert appends, delete drops, absent delete no-ops") {
    import spark.implicits._
    val base = Seq((1L, "one", "en", "web", 3L), (2L, "two", "en", "web", 3L),
      (3L, "three", "en", "web", 5L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val changes = Seq(
      (2L, "upsert", "two v2", "en", "web", 6L),      // update in place
      (4L, "upsert", "four", "en", "web", 4L),        // insert new id
      (3L, "delete", "", "en", "web", 0L),            // delete present id
      (9L, "delete", "", "en", "web", 0L),            // delete absent id: no-op
      (5L, null: String, "five", "en", "web", 4L)     // NULL op = "any other" -> UPSERT
    ).toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    val out = Dedup.applyChangeset(base, changes)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "one"), (2L, "two v2"), (4L, "four"), (5L, "five")))
    // ambiguous changeset (duplicated id) must fail fast
    val dup = Seq((2L, "upsert", "x", "en", "web", 1L),
      (2L, "delete", "", "en", "web", 0L))
      .toDF("doc_id", "op", "text", "lang", "source", "n_chars")
    intercept[IllegalArgumentException] {
      Dedup.applyChangeset(base, dup)
    }
    // payload schema must match the base
    intercept[IllegalArgumentException] {
      Dedup.applyChangeset(base, changes.drop("n_chars"))
    }
  }

  test("htmlExtract: script/style dropped, entities decode once, links counted, passthrough") {
    import spark.implicits._
    val d = Seq(
      (1L, "<html><head><title>T</title><style>a{}</style></head>" +
        "<body><p>A &amp;lt;b&amp;gt; &#39;q&#39; &amp; B</p>" +
        "<script>var s = \"<p>no</p>\";</script>" +
        "<a href=\"u1\">x</a><a HREF=\"u2\">y</a></body></html>"),
      (2L, "plain text stays"),
      (3L, "<div><div>nested <b>bold</b></div></div>")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.htmlExtract(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = m(1L)
    assert(r1.getAs[String]("title") == "T")
    assert(r1.getAs[Long]("n_links") == 2L)
    // &amp;lt; decodes to the LITERAL &lt; (no double decode); &#39; -> '
    assert(r1.getAs[String]("text_extracted") == "T A &lt;b&gt; 'q' & B x y")
    assert(m(2L).getAs[String]("text_extracted") == "plain text stays")
    assert(m(2L).getAs[Long]("n_links") == 0L)
    assert(m(3L).getAs[String]("text_extracted") == "nested bold")
    // zero shuffle: pure per-row regex chain
    assert(!TextAnalysis.htmlExtract(d).queryExecution.executedPlan
      .toString.contains("Exchange"))
  }

  test("phraseSearch: boundaries, overlaps, repeated words, absence") {
    import spark.implicits._
    val d = Seq(
      (1L, "x y z tail", "en", "t", 0L),          // match at start
      (2L, "head x y z", "en", "t", 0L),          // match at end
      (3L, "x y z x y z", "en", "t", 0L),         // two matches
      (4L, "x x x x", "en", "t", 0L),             // repeated-word phrase source
      (5L, "x y q z", "en", "t", 0L),             // near miss
      (6L, "", "en", "t", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    def hits(p: String*) = TextAnalysis.phraseSearch(d, p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(hits("x", "y", "z") == Seq((1L, 1L), (2L, 2L), (3L, 1L), (3L, 4L)))
    // self-overlapping phrase: "x x" in "x x x x" starts at 1, 2, 3
    assert(hits("x", "x") == Seq((4L, 1L), (4L, 2L), (4L, 3L)))
    assert(hits("x", "y", "missing").isEmpty)
    assert(hits("z").map(_._1).toSet == Set(1L, 2L, 3L, 5L)) // single-word degenerate
  }

  test("containmentPairs: asymmetry, fragment detection, prefix filter lossless") {
    import spark.implicits._
    val big = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"
    val d = Seq(
      (1L, big, "en", "t", 0L),
      (2L, "w5 w6 w7 w8 w9 w10 w11 w12", "en", "t", 0L), // interior fragment of 1
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8", "en", "t", 0L),    // unrelated
      (4L, "pre amble " + big + " post script", "en", "t", 0L) // superset of 1
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.containmentPairs(d, n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 2 ⊂ 1, 2 ⊂ 4, 1 ⊂ 4 at containment 1.0; nothing in reverse
    // (the big doc is NOT 90% contained in its fragment) and nothing
    // touches doc 3
    assert(got.map(p => (p._1, p._2)) == Set((2L, 1L), (2L, 4L), (1L, 4L)))
    assert(got.forall(_._3 == 1.0))
    // brute-force equality on a threshold that admits partial overlap
    val loose = Dedup.containmentPairs(d, n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def gramSet(t: String): Set[String] =
      t.split(" ").filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet
    val texts = Map(1L -> big, 2L -> "w5 w6 w7 w8 w9 w10 w11 w12",
      3L -> "x1 x2 x3 x4 x5 x6 x7 x8", 4L -> ("pre amble " + big + " post script"))
    val brute = (for {
      (a, ta) <- texts.toSeq; (b, tb) <- texts.toSeq; if a != b
      inter = gramSet(ta).intersect(gramSet(tb)).size
      if inter.toDouble / gramSet(ta).size >= 0.3
    } yield (a, b)).toSet
    assert(loose == brute)
  }

  test("multiPhraseSearch: equals per-phrase phraseSearch, shared words, repeats") {
    import spark.implicits._
    val d = Seq(
      (1L, "x y z and then x y again", "en", "t", 0L),
      (2L, "y z x y z", "en", "t", 0L),
      (3L, "x x y y", "en", "t", 0L),
      (4L, "nothing here", "en", "t", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // phrases share words ("x y" is a prefix of "x y z"), and one has
    // a repeated word — both stress the offset-alignment counting
    val phrases = Seq("pxy" -> Seq("x", "y"), "pxyz" -> Seq("x", "y", "z"),
      "pxx" -> Seq("x", "x"))
    val multi = TextAnalysis.multiPhraseSearch(d, phrases)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val single = phrases.flatMap { case (id, ws) =>
      TextAnalysis.phraseSearch(d, ws).collect()
        .map(r => (id, r.getLong(0), r.getLong(1)))
    }.toSet
    assert(multi == single && multi.nonEmpty)
    assert(multi.contains(("pxx", 3L, 1L)) && multi.contains(("pxy", 1L, 1L)))
  }

  test("vocabularyDrift: class boundaries exact (strict factor, minCount, rare)") {
    import spark.implicits._
    def slice(texts: String*): org.apache.spark.sql.DataFrame =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "t", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // totals engineered equal (20 words each side) so cross-products
    // reduce to raw counts: up needs c_new > 2*c_old STRICTLY
    val oldS = slice("a a a a a b b b b b c c c c c x y z w q")         // a:5 b:5 c:5
    val newS = slice("a a a a a b b c c c c c c c c c c n n n")         // a:5 b:2 c:10 n:3
    val d = TextAnalysis.vocabularyDrift(oldS, newS, factor = 2, minCount = 3)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(d("a") == "stable")   // unchanged
    assert(d("c") == "stable")   // exactly 2x: strict > excludes the boundary
    assert(d("b") == "down")     // 5 -> 2 (ratio 2.5)
    assert(d("n") == "new")      // 0 -> 3 == minCount
    assert(d("x") == "rare")     // 1 occurrence, below minCount
    // vanished needs minCount on the old side
    val d2 = TextAnalysis.vocabularyDrift(
      slice("gone gone gone gone gone stay"), slice("stay"), factor = 2, minCount = 5)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(d2("gone") == "vanished")
  }

  test("Observation API: curation counters ride the scan — no second pass, exact values") {
    // production pipelines need kept/dropped/byte counters per run;
    // observe() attaches them to the SAME job (metrics come back with
    // the action, not from a re-scan), which is the only affordable
    // shape at 100 TB. Values must equal independent recomputation.
    import org.apache.spark.sql.Observation
    import spark.implicits._
    val obs = Observation("curation")
    val d = docs.observe(obs,
      count(lit(1)).as("n_in"),
      sum(when(length(col("text")) >= 10, 1L).otherwise(0L)).as("n_kept"),
      sum(length(col("text"))).cast("long").as("chars_in"))
    val kept = d.filter(length(col("text")) >= 10).count()
    val m = obs.get
    assert(m("n_in") == 6L)
    assert(m("n_kept") == kept)
    assert(m("chars_in") ==
      docs.agg(sum(length(col("text")))).collect()(0).getLong(0))
  }

  test("cdcChunks: reassembly, boundary resync after prefix shift, short docs") {
    import spark.implicits._
    val body = "the quick brown fox jumps over the lazy dog while the " +
      "content defined chunker keeps cutting wherever the window hash " +
      "lands on zero regardless of where the text begins in the stream"
    val docs = Seq(
      (1L, body, "en", "t", 0L),
      (2L, "PREPENDED NOISE BLOCK " + body, "en", "t", 0L), // shifted copy
      (3L, "tiny", "en", "t", 0L),                          // < window -> one chunk
      (4L, "", "en", "t", 0L)                               // empty -> no rows
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val ch = TextAnalysis.cdcChunks(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // chunks reassemble exactly, in index order
    val byDoc = ch.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).mkString).toMap
    assert(byDoc(1L) == body)
    assert(byDoc(2L) == "PREPENDED NOISE BLOCK " + body)
    assert(byDoc(3L) == "tiny" && ch.count(_._1 == 3L) == 1)
    assert(!byDoc.contains(4L))
    // resync: after the shifted prefix, doc 2's chunk stream converges
    // to doc 1's — they share a common SUFFIX of chunks
    val c1 = ch.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    val c2 = ch.filter(_._1 == 2L).sortBy(_._2).map(_._3)
    val commonSuffix = c1.reverse.zip(c2.reverse).takeWhile { case (a, b) => a == b }.length
    assert(commonSuffix >= 1, s"no shared chunk suffix: ${c1.toSeq} vs ${c2.toSeq}")
  }

  test("canonicalizeUrl: case/port/fragment/tracking/param-order normalization") {
    import spark.implicits._
    val cases = Seq(
      // (input, expected canonical or null)
      ("https://Example.COM/Path?b=2&a=1", "https://example.com/Path?a=1&b=2"),
      ("HTTP://HOST.example:80/x", "http://host.example/x"),
      ("https://host.example:443/x", "https://host.example/x"),
      ("https://host.example:8080/x", "https://host.example:8080/x"), // non-default survives
      ("http://host.example:443/x", "http://host.example:443/x"),    // not http's default
      ("https://h.example", "https://h.example/"),                   // empty path -> /
      ("https://h.example#frag", "https://h.example/"),
      ("https://h.example/x?utm_source=a&utm_campaign=b", "https://h.example/x"),
      ("https://h.example/x?fbclid=zz&q=1&gclid", "https://h.example/x?q=1"),
      ("https://h.example/x?utm=keep&utmost=1", "https://h.example/x?utm=keep&utmost=1"), // only utm_ prefix drops
      ("https://h.example/x?", "https://h.example/x"),
      ("ftp://h.example/f", "ftp://h.example/f"), // unknown scheme: no default port to strip
      ("/relative/path", null),
      ("mailto:a@b.example", null),
      ("", null))
    val got = cases.map(_._1).toDF("url")
      .select(ops.TextAnalysis.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    for (((in, want), g) <- cases.zip(got))
      assert(g == want, s"canonicalizeUrl($in) = $g, want $want")
    // idempotence: canonicalizing a canonical form is the identity
    val canon = cases.collect { case (_, c) if c != null => c }
    val twice = canon.toDF("url")
      .select(ops.TextAnalysis.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0))
    assert(twice.toSeq == canon)
  }

  test("extractLinks: domains fold case, strip ports, drop relative/mailto") {
    import spark.implicits._
    val d = Seq((1L,
      "<a href=\"https://A.Example/x\">1</a>" +
        "<a href=\"http://b.example:8080/z\">2</a>" +
        "<a href=\"/rel\">3</a><a href=\"mailto:a@c.d\">4</a>"))
      .toDF("doc_id", "text")
    val links = TextAnalysis.extractLinks(d).collect()
      .map(r => (r.getString(1), r.getString(2))).toSet
    assert(links == Set(("https://A.Example/x", "a.example"),
      ("http://b.example:8080/z", "b.example")))
  }

  test("distinctiveTerms: lift arithmetic, grouped top-k plan") {
    import spark.implicits._
    // corpus: 'ml' concentrated in src a, 'law' in src b, 'the' everywhere
    val d = Seq(
      (1L, "ml ml ml the the", "a"), (2L, "ml ml the", "a"),
      (3L, "law law law the the", "b"), (4L, "law law the", "b")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.distinctiveTerms(d, "source", minCount = 2, topK = 2)
    val m = out.collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getAs[Long]("score"), r.getAs[Long]("rk"))).toMap
    // src a: c_ws(ml)=5, c_w(ml)=5, n_s=8, N=16:
    // ((5e9 div 5) * 16) div 8 = 2e9; 'the': ((4e9 div 8)*16) div 8 = 1e9
    assert(m(("a", "ml")) == ((2000000000L, 1L)))
    assert(m(("a", "the")) == ((1000000000L, 2L)))
    assert(m(("b", "law")) == ((2000000000L, 1L)))
    // the rank filter reaches the window as a group limit
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("pairRecall: confusion arithmetic, null ratios on empty inputs") {
    import spark.implicits._
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_id_a", "doc_id_b")
    val pred = Seq((1L, 2L), (3L, 4L), (7L, 8L)).toDF("doc_id_a", "doc_id_b")
    val r = Dedup.pairRecall(pred, truth).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 3L, 2L, 1L)))
    assert(r.getDouble(4) == 0.666667 && r.getDouble(5) == 0.666667)
    val empty = Seq.empty[(Long, Long)].toDF("doc_id_a", "doc_id_b")
    val e = Dedup.pairRecall(empty, truth).collect()(0)
    assert(e.isNullAt(4) && e.getDouble(5) == 0.0)
  }

  test("randomProject: basis vectors read off hyperplane components, scaling exact") {
    import spark.implicits._
    import org.apache.spark.sql.graft.GraftFunctions.random_project
    val e0 = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val d = Seq((1L, e0), (2L, e0.map(_ * 2.0f))).toDF("vec_id", "embedding")
    val rows = d.select(col("vec_id"),
        random_project(col("embedding"), 8).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // proj(e_0)[p] is exactly hyperplane component (p, 0): the
    // splitmix64 -> [-1,1) -> float -> double chain
    (0 until 8).foreach { p =>
      val expected = (graft.functions.Hashing.splitmix64(p.toLong * 8191L).toDouble /
        Long.MaxValue.toDouble).toFloat.toDouble
      assert(rows(1L)(p) == expected, s"plane $p")
    }
    // power-of-two scaling commutes with IEEE rounding: proj(2x) == 2*proj(x)
    assert(rows(2L) == rows(1L).map(_ * 2.0))
  }

  test("embeddingDiversity: ||sum||^2 identity == brute-force pair enumeration") {
    import spark.implicits._
    // STRING group labels: the group column must keep its own type
    // (an unconditional long cast would collapse these into one NULL)
    val rows = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), "g0"), // group 0: two identical + one orthogonal
      (2L, Array(1.0f, 0.0f, 0.0f), "g0"),
      (3L, Array(0.0f, 1.0f, 0.0f), "g0"),
      (4L, Array(3.0f, 4.0f, 0.0f), "g1"), // group 1: parallel (cos 1 after norm)
      (5L, Array(6.0f, 8.0f, 0.0f), "g1"),
      (6L, Array(1.0f, 1.0f, 1.0f), "g2")  // group 2: singleton -> drops
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingDiversity(rows, "label").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("g0", "g1")) // singleton group dropped
    // group 1: identical unit vectors -> quantized cosine exactly 1
    // (codes are equal, so S2 - sum_self == 2 * self_dot == n(n-1) * 127^2
    // only if |code|^2 == 16129; (76,102) gives 76^2+102^2 = 16180)
    val g1 = out("g1")
    assert(math.abs(g1.getAs[Double]("avg_pair_cos") - 16180.0 / 16129.0) < 5.1e-7)
    // group 0: brute-force over quantized codes: pairs (1,2)=127^2,
    // (1,3)=0, (2,3)=0 -> avg = 2*127^2 / 6
    val g0 = out("g0")
    assert(math.abs(g0.getAs[Double]("avg_pair_cos") - 1.0 / 3.0) < 5.1e-7)
    assert(g0.getAs[Long]("n") == 3L)
    // partition invariance: all-long sums
    val a = Similarity.embeddingDiversity(rows.repartition(7), "label")
      .orderBy("label").collect().toSeq
    val b = Similarity.embeddingDiversity(rows.repartition(1), "label")
      .orderBy("label").collect().toSeq
    assert(a == b)
  }

  test("bpeEncode: apply == training segmentation, OOV folds the same merges") {
    import spark.implicits._
    val d = Seq((1L, "low lower low"), (2L, "newest low")).toDF("doc_id", "text")
    val (merges, vocab) = TextAnalysis.bpeTrain(d, numMerges = 3)
    val enc = TextAnalysis.bpeEncode(d, merges.map(m => (m._1, m._2)))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens")))
    // law: applying the merge list to the training corpus reproduces
    // the training segmentation's token counts exactly
    val segTokens = vocab.select(col("word"), size(col("syms")).cast("long").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Seq(
      (1L, 3L, segTokens("low") * 2 + segTokens("lower")),
      (2L, 2L, segTokens("newest") + segTokens("low")))
    assert(enc.toSeq == expected)
    // OOV: an unseen word folds the same merges over its chars —
    // "lowest" shares the learned "lo"/"low" prefix merges
    val oov = TextAnalysis.bpeEncode(
      Seq((9L, "zzz")).toDF("doc_id", "text"), merges.map(m => (m._1, m._2)))
      .collect()(0)
    assert(oov.getAs[Long]("n_words") == 1L)
    assert(oov.getAs[Long]("n_tokens") == 3L) // no merge matches: char tokens
  }

  test("charEntropy: closed forms, empty drop, zero-shuffle plan") {
    import spark.implicits._
    val d = Seq(
      (1L, "aaaa"),        // one run: entropy 0
      (2L, "abab"),        // two chars, equal counts: ln 2
      (3L, "abcdefghij"),  // uniform 10-char alphabet: ln 10
      (4L, "")             // empty: dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(d)
    val m = out.collect().map(r => r.getLong(0) ->
      (r.getAs[Long]("n_chars_counted"), r.getAs[Long]("distinct_chars"),
        r.getAs[Double]("entropy_nats"))).toMap
    assert(m.keySet == Set(1L, 2L, 3L))
    assert(m(1L) == ((4L, 1L, 0.0)))
    assert(m(2L)._3 == math.rint(math.log(2.0) * 1e6) / 1e6 ||
      math.abs(m(2L)._3 - math.log(2.0)) < 1e-6)
    assert(math.abs(m(3L)._3 - math.log(10.0)) < 1e-6)
    // the histogram never materializes: per-row fold, no shuffle
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("pmiCollocations: integer-scaled ranking matches hand arithmetic") {
    import spark.implicits._
    // unigrams: new 3, york 3, times 1, city 1 -> N = 8
    // bigrams: (new,york) 3, (york,new) 1, (york,times) 1, (york,city) 1
    val d = Seq((1L, "new york new york times"), (2L, "new york city"))
      .toDF("doc_id", "text")
    val top = TextAnalysis.pmiCollocations(d, minCount = 2, topK = 10).collect()
    assert(top.length == 1)
    val r = top(0)
    // ((3 * 1e9) div 3) * 8 div 3 = 2666666666
    assert((r.getAs[String]("a"), r.getAs[String]("b"),
      r.getAs[Long]("c_ab"), r.getAs[Long]("pmi_scaled")) ==
      ("new", "york", 3L, 2666666666L))
    // minCount=1: ties on 2666666664 break lexicographically
    val all = TextAnalysis.pmiCollocations(d, minCount = 1, topK = 10)
      .collect().map(x => (x.getAs[String]("a"), x.getAs[String]("b"),
        x.getAs[Long]("pmi_scaled")))
    assert(all.toSeq == Seq(
      ("new", "york", 2666666666L),
      ("york", "city", 2666666664L),
      ("york", "times", 2666666664L),
      ("york", "new", 888888888L)))
  }

  test("readability: hand-computed fixed point, sentence floor, null on empty") {
    import spark.implicits._
    val d = Seq(
      (1L, "The cat sat. It purred!"),     // 5 words, 2 sentences, 6 vowel groups
      (2L, "no terminators here"),          // sentences floored at 1
      (3L, ""),                             // word-less: NULL score
      (4L, "word")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.readability(d).orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 5L && r(0).getLong(2) == 2L)
    // "the cat sat it purred": e,a,a,i,u,e -> 6 clusters
    assert(r(0).getLong(3) == 6L)
    assert(r(0).getLong(4) == 206835L - (1015L * 5 / 2) - (84600L * 6 / 5))
    assert(r(1).getLong(2) == 1L)
    assert(r(2).isNullAt(4) && r(2).getLong(1) == 0L)
    assert(r(3).getLong(4) == 206835L - 1015L - 84600L)
  }

  test("encodingDamage: three signatures counted, suspect thresholds pinned") {
    import spark.implicits._
    val d = Seq(
      (1L, "perfectly clean ascii text."),
      (2L, "damaged caf\u00c3\u00a9 and na\u00c3\u00afve"),    // two A-tilde pairs
      (3L, "single \u00c3 alone"),                                // one: below the bar
      (4L, "lost byte \ufffd here"),
      (5L, "c1 control x\u0085y embedded")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.encodingDamage(d).orderBy("doc_id").collect()
    def row(i: Int) = (r(i).getLong(1), r(i).getLong(2), r(i).getLong(3), r(i).getBoolean(4))
    assert(row(0) == (0L, 0L, 0L, false))
    assert(row(1) == (0L, 0L, 2L, true))   // 2+ A-tilde -> suspect
    assert(row(2) == (0L, 0L, 1L, false))  // a lone one can be legitimate
    assert(row(3) == (1L, 0L, 0L, true))
    assert(row(4) == (0L, 1L, 0L, true))
  }

  test("ewmaScaled: hand fold, key isolation, partition invariance") {
    import spark.implicits._
    val e = Seq(
      (1L, "2020-01-01 10:00:00", 1L, 4.0),
      (1L, "2020-01-01 11:00:00", 2L, 8.0),
      (1L, "2020-01-01 12:00:00", 3L, 0.5),
      (2L, "2020-01-01 10:30:00", 4L, 100.0))
      .toDF("user_id", "ts", "event_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = TimeSeries.ewmaScaled(e, "user_id", "ts", "event_id", col("value"))
      .orderBy("user_id", "ts", "event_id").collect()
    // scaled inputs: 4096, 8192, 512; fold: s1=4096,
    // s2 = 4096 + (8192-4096)/4 = 5120, s3 = 5120 + floor((512-5120)/4)
    //    = 5120 + floor(-4608/4) = 5120 - 1152 = 3968
    assert(r.map(_.getLong(4)).toSeq == Seq(4096L, 5120L, 3968L, 102400L))
    // a second key restarts the state (102400 = its own first value)
    // negative delta NOT divisible by 4: floor semantics pinned
    val neg = Seq((1L, "2020-01-01 10:00:00", 1L, 1.0),
                  (1L, "2020-01-01 11:00:00", 2L, 0.0))
      .toDF("user_id", "ts", "event_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val rn = TimeSeries.ewmaScaled(neg, "user_id", "ts", "event_id", col("value"))
      .orderBy("event_id").collect()
    // s2 = 1024 + floor(-1024/4) = 768 (exact); and with scaleBits=0:
    // s = 1 + floor(-1/4) = 1 - 1 = 0  (truncation would keep 1)
    assert(rn(1).getLong(4) == 768L)
    val rn0 = TimeSeries.ewmaScaled(neg, "user_id", "ts", "event_id", col("value"),
      scaleBits = 0).orderBy("event_id").collect()
    assert(rn0(1).getLong(4) == 0L)
    // partition invariance on the real fixture: 1 vs 16 shuffle partitions
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    def run(parts: String) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try TimeSeries.ewmaScaled(ev, "user_id", "ts", "event_id", col("value"))
        .orderBy("user_id", "ts", "event_id").collect().toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(run("1") == run("16"))
  }

  test("outlierFences: equals brute-force Tukey fences with planted outliers") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val base = (1 to 400).map(i => ("a", 50.0 + rnd.nextGaussian() * 5)) ++
      (1 to 300).map(i => ("b", 10.0 + rnd.nextDouble())) ++
      Seq(("a", 500.0), ("a", -500.0), ("b", 99.0))   // planted extremes
    val df = base.toDF("grp", "value")
    val got = graft.ops.Sketch.outlierFences(df, "grp", "value")
      .orderBy("grp").collect()
    // brute force in scaled longs
    for (r <- got) {
      val g = r.getString(0)
      val vs = base.filter(_._1 == g).map(v => math.floor(v._2 * 1024).toLong).sorted
      val n = vs.length
      def q(p: Double) = vs(math.max(1, math.ceil(p * n).toLong).toInt - 1)
      val (q1, q3) = (q(0.25), q(0.75))
      val iqr3 = 3 * (q3 - q1) / 2
      assert(r.getLong(1) == q1 && r.getLong(2) == q3, g)
      assert(r.getLong(3) == q1 - iqr3 && r.getLong(4) == q3 + iqr3, g)
      assert(r.getLong(5) == vs.count(_ < q1 - iqr3), s"$g n_low")
      assert(r.getLong(6) == vs.count(_ > q3 + iqr3), s"$g n_high")
      assert(r.getLong(7) == n.toLong, g)
    }
    // the plants are actually caught
    val a = got.find(_.getString(0) == "a").get
    assert(a.getLong(5) >= 1 && a.getLong(6) >= 1)
  }

  test("prefixDimAudit: full-dim prefix is the identity; truncation degrades overlap") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // identity law: prefix = full dimension -> both rankings equal
    val ident = Similarity.prefixDimAudit(emb, prefixDim = 64, k = 5, nQueries = 3)
      .collect()
    assert(ident.length == 3)
    for (r <- ident) {
      assert(r.getLong(1) == 5L, "overlap must be k when prefix = full dim")
      assert(r.getLong(4) == 1L, "top1 must agree with itself")
    }
    // monotone sanity: a 4-dim prefix cannot beat the identity overlap
    val trunc = Similarity.prefixDimAudit(emb, prefixDim = 4, k = 5, nQueries = 3)
      .collect()
    assert(trunc.forall(_.getLong(1) <= 5L))
    // rankings are over the corpus minus the query itself
    assert(trunc.forall(r => r.getLong(2) != r.getLong(0) && r.getLong(3) != r.getLong(0)))
  }

  test("thresholdCurve: monotone yield, hand jaccard boundary, exact-copy tail") {
    import spark.implicits._
    // docs: a/b share 3 of 5 union grams? build texts with known
    // word-trigram overlap: x = "w1..w5" (3 grams), y = "w1..w4 z"
    // (grams: w1w2w3, w2w3w4, w3w4z) -> inter 2, union 4, J = 0.5
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5"), (2L, "w1 w2 w3 w4 z"),
      (3L, "a b c d e"), (4L, "a b c d e")).toDF("doc_id", "text")
    val got = Dedup.thresholdCurve(docs, 3, Seq(40, 50, 60, 100))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(40L) == ((2L, 4L)))   // both pairs
    assert(got(50L) == ((2L, 4L)))   // J = 0.5 sits ON the bar: included
    assert(got(60L) == ((1L, 2L)))   // only the exact copy survives
    assert(got(100L) == ((1L, 2L)))
    // monotone non-increasing on the real corpus
    val curve = Dedup.thresholdCurve(
        spark.read.parquet(s"$sf/documents.parquet"), 3, (1 to 10).map(_ * 10))
      .orderBy("threshold_x100").collect().map(_.getLong(1))
    assert(curve.zip(curve.tail).forall { case (a, b) => a >= b })
    // array-free = array-carrying law: the curve computes |A∩B| as a
    // count-aggregated posting join — cross-check every point against
    // the naive array_intersect relation (quadratic, audit-only)
    val slice = spark.read.parquet(s"$sf/documents.parquet")
      .orderBy("doc_id").limit(150)
    val naive = Dedup.naiveJaccardPairs(slice, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ths = Seq(30, 50, 80, 100)
    val naiveCurve = ths.map { t =>
      val hit = naive.filter { case (_, _, inter, uni) => inter * 100 >= t * uni }
      t.toLong -> ((hit.length.toLong,
        hit.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong))
    }.toMap
    val gotCurve = Dedup.thresholdCurve(slice, 3, ths)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(gotCurve == naiveCurve,
      s"count-join curve must equal the naive curve: $gotCurve vs $naiveCurve")
    intercept[IllegalArgumentException](Dedup.thresholdCurve(docs, 3, Seq()))
    intercept[IllegalArgumentException](Dedup.thresholdCurve(docs, 3, Seq(0)))
  }

  test("integerAcf: periodic signal peaks at its period; ramp near 1; hand moments") {
    import spark.implicits._
    // exact period-6 signal over 60 steps: r(6) = r(12) = 1 exactly
    val per = (1 to 60).map(i => (i.toLong, (100 + (i % 6) * 10).toLong))
      .toDF("t", "v")
    val r = graft.ops.TimeSeries.integerAcf(per, "t", "v", maxLag = 12)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    // mathematically exactly 1; the sqrt(d)*sqrt(d) product may sit
    // 1 ulp under d, so assert to IEEE slack rather than equality
    assert(math.abs(r(6L) - 1.0) < 1e-12 && math.abs(r(12L) - 1.0) < 1e-12)
    assert(r(3L) < 0.0, "half-period must anticorrelate")
    // hand-computed moments at lag 1 of a tiny series
    val tiny = Seq((1L, 1L), (2L, 3L), (3L, 2L), (4L, 5L)).toDF("t", "v")
    val g1 = graft.ops.TimeSeries.integerAcf(tiny, "t", "v", 1).collect()(0)
    val xs = Seq(1L, 3L, 2L); val ys = Seq(3L, 2L, 5L)
    val n = 3L
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(a => a * a).sum; val syy = ys.map(a => a * a).sum
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val expect = (n * sxy - sx * sy).toDouble /
      (math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble))
    assert(g1.getLong(1) == 3L && g1.getDouble(2) == expect)
    intercept[IllegalArgumentException](
      graft.ops.TimeSeries.integerAcf(tiny, "t", "v", 0))
  }

  test("zipfFit: exact power law fits slope ~ -1; scalar cross-check; guard") {
    import spark.implicits._
    // corpus with freq(rank r) = round(512 / r): an exact-ish Zipf law
    val docs = (1 to 12).flatMap { r =>
      val f = math.round(512.0 / r).toInt
      Seq.fill(f)(s"w$r")
    }.grouped(40).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val got = TextAnalysis.zipfFit(docs, topR = 12).collect()(0)
    assert(got.getLong(0) == 12L)
    assert(math.abs(got.getLong(1) + 1000000L) < 30000L,
      s"slope ${got.getLong(1)} not ~ -1e6")
    // scalar OLS cross-check with the same x1e3 rounding
    val pts = (1 to 12).map { r =>
      (math.round(math.log(r) * 1000),
        math.round(math.log(math.round(512.0 / r).toDouble) * 1000))
    }
    val n = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val slope = 1000000L * (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(got.getLong(1) == slope)
    assert(got.getLong(2) == (sy - slope * sx / 1000000L) / n)
    intercept[IllegalArgumentException](TextAnalysis.zipfFit(docs, 2))
  }

  test("entity resolution composition: evidence kinds bridge transitively") {
    // run the registered query and assert the semantic content the
    // hash cannot show: the planted copies' URL block {1000000..2}
    // merges into the originals' block {0..3} through title evidence
    val out = SparkEntry.queries("n129_entity_resolution")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 1L, 2L, 3L, 1000000L, 1000001L, 1000002L)
      .forall(out(_) == 0L))
    // representative closure: the entity of a representative is itself,
    // so lookup is idempotent (a broken union would chain)
    assert(out.values.toSet.forall(e => out(e) == e))
    // every doc resolves (singletons map to themselves)
    assert(out.size == 503)
  }

  test("madOutliers: brute-force agreement, MAD-zero degeneracy, two-sided plants") {
    import spark.implicits._
    // hand case: med of [0,0,0,100] is 0, MAD is 0 -> the degenerate
    // convention flags every non-median value
    val degen = Seq(("a", 0L), ("a", 0L), ("a", 0L), ("a", 100L))
      .toDF("g", "v")
    val d = Sketch.madOutliers(degen, "g", "v").collect()(0)
    assert(d.getLong(1) == 0L && d.getLong(2) == 0L)
    assert(d.getLong(3) == 0L && d.getLong(4) == 1L && d.getLong(5) == 4L)
    // brute force on the real fixture plus two-sided plants
    val sv = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), floor(col("value") * 1024).cast("long").as("v"))
      .unionAll(Seq(("click", 9000000L), ("click", -9000000L)).toDF("event_type", "v"))
    val got = Sketch.madOutliers(sv, "event_type", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val rows = sv.collect().map(r => (r.getString(0), r.getLong(1)))
    for ((g, vals) <- rows.groupBy(_._1)) {
      val vs = vals.map(_._2).sorted
      def rank(q: Double, xs: Array[Long]) =
        xs(math.max(1, math.ceil(q * xs.length).toInt) - 1)
      val med = rank(0.5, vs)
      val mad = rank(0.5, vs.map(v => math.abs(v - med)).sorted)
      val lo = vs.count(v => 6745L * (med - v) > 35000L * mad)
      val hi = vs.count(v => 6745L * (v - med) > 35000L * mad)
      assert(got(g) == ((med, mad, lo.toLong, hi.toLong, vs.length.toLong)), g)
    }
    // the plants fire on both sides of 'click'
    assert(got("click")._3 >= 1 && got("click")._4 >= 1)
  }

  test("dpNoisyCounts: scalar noise formula replayed; seeds decorrelate; guards") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = Profile.dpNoisyCounts(docs, "source", b = 2.0, seed = 42L)
      .orderBy("source").collect()
    assert(out.nonEmpty)
    // scalar cross-check of one group's entire noise derivation
    val r0 = out.head
    val src = r0.getString(0)
    val u = java.lang.Long.toUnsignedString(
      graft.functions.Hashing.fmix64(
        graft.functions.Hashing.fnv1a64(src) + 42L) >>> 11).toDouble /
      9007199254740992.0
    val noise = -2.0 * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
    assert(r0.getLong(2) == math.round(noise * 1000000.0))
    assert(r0.getLong(3) == r0.getLong(1) + r0.getLong(2) / 1000000L)
    // the release is noisy (some group moved) but determinstic per seed
    assert(out.exists(r => r.getLong(3) != r.getLong(1)))
    val again = Profile.dpNoisyCounts(docs, "source", 2.0, 42L)
      .orderBy("source").collect()
    assert(out.map(_.getLong(2)).toSeq == again.map(_.getLong(2)).toSeq)
    // a different seed draws a different noise stream
    val other = Profile.dpNoisyCounts(docs, "source", 2.0, 43L)
      .orderBy("source").collect()
    assert(out.map(_.getLong(2)).toSeq != other.map(_.getLong(2)).toSeq)
    intercept[IllegalArgumentException](
      Profile.dpNoisyCounts(docs, "source", 0.0, 1L))
  }

  test("kMeans: planted separation recovered; duplicate-init empty cluster; partition invariance") {
    import spark.implicits._
    def embDf(rows: (Long, Seq[Float])*) =
      rows.toDF("vec_id", "embedding")
    // two well-separated groups: ids 0,2,3 near (10,0); ids 1,4,5 near (0,10)
    val sep = embDf(
      0L -> Seq(10f, 0f), 1L -> Seq(0f, 10f),
      2L -> Seq(9f, 1f), 3L -> Seq(10f, 0.5f),
      4L -> Seq(1f, 9f), 5L -> Seq(0.2f, 10f))
    val got = graft.ops.Clustering.kMeans(sep, k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) == got(2L) && got(0L) == got(3L))
    assert(got(1L) == got(4L) && got(1L) == got(5L))
    assert(got(0L) != got(1L))
    // easy case converges: one round gives the same partition as two
    val one = graft.ops.Clustering.kMeans(sep, 2, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == got)
    // duplicate init points: round 1's (dist, cluster) tie-break sends
    // EVERY row to cluster 0 (the two centroids are identical), so
    // cluster 1 goes empty — the carry-over keeps its centroid alive,
    // and in round 2 it wins the near-(10,0) group back from the
    // mixed round-1 mean. Without the carry-over branch this collapses
    // to one cluster.
    val dup = embDf(
      0L -> Seq(10f, 0f), 1L -> Seq(10f, 0f),
      2L -> Seq(9f, 1f), 3L -> Seq(0f, 10f), 4L -> Seq(1f, 9f))
    val d = graft.ops.Clustering.kMeans(dup, 2, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d.size == 5)
    assert(d(0L) == d(1L) && d(0L) == d(2L))  // the (10,0) group together
    assert(d(3L) == d(4L) && d(3L) != d(0L))  // split from the (0,10) group
    // partition invariance on the real fixture
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = graft.ops.Clustering.kMeans(emb.repartition(1), 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = graft.ops.Clustering.kMeans(emb.repartition(16), 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
    intercept[IllegalArgumentException](graft.ops.Clustering.kMeans(sep, 1, 2))
    intercept[IllegalArgumentException](graft.ops.Clustering.kMeans(sep, 2, 9))
    // init takes the k SMALLEST ids, not ids < k: a shifted id space
    // clusters identically (and must not silently return empty)
    val shifted = sep.withColumn("vec_id", col("vec_id") + 1000L)
    val sh = graft.ops.Clustering.kMeans(shifted, 2, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh.size == 6)
    assert(sh(1000L) == sh(1002L) && sh(1001L) == sh(1004L) &&
      sh(1000L) != sh(1001L))
    intercept[IllegalArgumentException](
      graft.ops.Clustering.kMeans(sep.limit(1), 2, 1))
    // scale shape: the assignment broadcasts the centroid table (never
    // a shuffled or cartesian corpus join) and the argmin rank filter
    // runs under WindowGroupLimit. The result is the assignment's
    // materialized checkpoint, so the plan is read off the last
    // checkpoint execution of the call.
    val (_, rec) = graft.tools.Profile.record(spark)(graft.ops.Clustering.kMeans(emb, 4, 1))
    val plan = rec.executions.filter(_.action.toLowerCase.contains("checkpoint"))
      .last.qe.executedPlan.toString
    assert(plan.contains("Broadcast"), "centroids must broadcast")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
    assert(plan.contains("WindowGroupLimit"), "argmin must prune per task")
  }

  test("dq rules: hand-counted violations, uniqueness without self-join, orphan detection") {
    import spark.implicits._
    val d = Seq((1L, "a", 1L), (2L, "", 0L), (3L, null.asInstanceOf[String], 9L),
      (4L, "bb", 7L), (5L, "bb", 2L)).toDF("id", "t", "len")
    val rows = Profile.dqColumnRules(d, Seq(
        "complete" -> (col("t").isNull || col("t") === ""),
        "len_ok" -> (col("t").isNotNull && col("len") =!= length(col("t")))))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(rows("complete") == ((5L, 2L, false)))
    assert(rows("len_ok") == ((5L, 1L, false)))   // id=4 (7 vs 2); null row skipped
    val u = Profile.dqUnique(d, Seq("t"), "t_unique").collect()(0)
    // NULL-key convention = SQL COUNT(DISTINCT): NULL is never a
    // distinct value, so distinct t: a, '', bb -> 3; violations = 5 - 3
    // (the NULL-keyed row counts as a violation, matching the oracle's
    // count(*) - count(DISTINCT t))
    assert(u.getLong(1) == 5L && u.getLong(2) == 2L && !u.getBoolean(3))
    // all-non-null keys: unchanged semantics, truly unique passes
    val u2 = Profile.dqUnique(d, Seq("id"), "id_unique").collect()(0)
    assert(u2.getLong(1) == 5L && u2.getLong(2) == 0L && u2.getBoolean(3))
    // multi-column key with a NULL component: same convention
    val u3 = Profile.dqUnique(d, Seq("t", "len"), "tl_unique").collect()(0)
    assert(u3.getLong(1) == 5L && u3.getLong(2) == 1L && !u3.getBoolean(3))
    val parent = Seq(1L, 2L, 3L).toDF("id")
    val refc = Profile.dqReferential(d, "id", parent, "id", "ref").collect()(0)
    assert(refc.getLong(1) == 5L && refc.getLong(2) == 2L && !refc.getBoolean(3))
    // a fully-clean relation passes everything
    val clean = Profile.dqColumnRules(parent,
      Seq("pos" -> (col("id") <= 0))).collect()(0)
    assert(clean.getLong(2) == 0L && clean.getBoolean(3))
    intercept[IllegalArgumentException](Profile.dqColumnRules(d, Seq.empty))
  }

  test("jumpHash: range, only-moves-to-new-shard law, stability, spread") {
    import org.apache.spark.sql.graft.SimilarityKernels.jumpHash
    val keys = (0L until 2000L) ++ Seq(Long.MaxValue - 5, 1L << 62)
    for (n <- 1 to 12; k <- keys.take(200)) {
      val s = jumpHash(k, n)
      assert(s >= 0 && s < n, s"key $k shards $n -> $s out of range")
    }
    // the defining law: growing n -> n+1 moves a key ONLY to shard n
    for (n <- 1 until 16; k <- keys) {
      val a = jumpHash(k, n); val b = jumpHash(k, n + 1)
      assert(b == a || b == n, s"key $k moved $a -> $b at n=${n + 1}")
    }
    // ~1/(n+1) of keys move at each growth step (jump hash's balance)
    val moved = keys.count(k => jumpHash(k, 8) != jumpHash(k, 9))
    assert(moved > keys.size / 18 && moved < keys.size / 5, s"moved $moved")
    // deterministic and spread: all 8 shards populated
    assert(keys.map(jumpHash(_, 8)).toSet.size == 8)
    // the SQL surface resolves through the extension registry
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT jump_hash(CAST(7 AS BIGINT), 8)").collect()(0).getLong(0)
    assert(viaSql == jumpHash(7L, 8))
  }

  test("clusterProfile: sizes sum to corpus, representative is the argmin member") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val prof = graft.ops.Clustering.clusterProfile(emb, k = 4, rounds = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val assigned = graft.ops.Clustering.kMeans(emb, 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(prof.values.map(_._1).sum == assigned.length.toLong)
    for ((c, members) <- assigned.groupBy(_._2)) {
      val (n, repId, repDist, meanDist) = prof(c)
      assert(n == members.length.toLong)
      val best = members.minBy(m => (m._3, m._1))
      assert(repId == best._1 && repDist == best._3)
      assert(meanDist == members.map(_._3).sum / members.length)
      // the representative really is a member of its own cluster
      assert(members.exists(_._1 == repId))
    }
  }

  test("labelPropagation: components get distinct labels; self-vote is stable; bridge communities") {
    import spark.implicits._
    def edges(ps: (Long, Long)*) = ps.toDF("src", "dst")
    // two disconnected triangles -> two communities at their min labels
    val tri = edges((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L))
    val got = Graph.labelPropagation(tri, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // star: the self-vote makes round 1 a fixpoint (no two-cycling)
    val star = edges((1L, 2L), (1L, 3L), (1L, 4L))
    val r1 = Graph.labelPropagation(star, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r3 = Graph.labelPropagation(star, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == r3 && r1.values.toSet == Set(1L))
    // two K4s joined by one bridge: communities survive the bridge
    val k4s = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L),
      (4L, 10L))
    val kb = Graph.labelPropagation(k4s, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(kb(_) == 1L))
    assert(Seq(10L, 11L, 12L, 13L).forall(kb(_) == 10L))
    // partition invariance
    val p1 = Graph.labelPropagation(k4s.repartition(1), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p16 = Graph.labelPropagation(k4s.repartition(16), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 == p16)
    intercept[IllegalArgumentException](Graph.labelPropagation(tri, 0))
  }

  test("kneserNey: hand-computed tiny corpus; per-history mass stays under 1") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val got = TextAnalysis.kneserNey(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // c12(a,b)=2, c1(a)=2, nfollow(a)=1, nprec(b)=1, ntypes=2:
    // t1 = 1e9*(8-3)//8, lambda = 3e9//8, pcont = 1e9//2
    val t1 = 1000000000L * 5 / 8
    val lam = 3000000000L / 8
    val pc = 500000000L
    val pkn = t1 + lam * pc / 1000000000L
    assert(got(("a", "b")) == ((2L, t1, lam, pc, pkn)))
    assert(got(("b", "a")) == ((2L, t1, lam, pc, pkn)))
    // real corpus: observed-bigram mass per history can never exceed 1
    val corpus = TextAnalysis.kneserNey(spark.read.parquet(s"$sf/documents.parquet"))
    val mass = corpus.groupBy("w1").agg(sum("pkn_x1e9").as("m")).collect()
    assert(mass.nonEmpty)
    assert(mass.forall(r => r.getLong(1) <= 1000000000L && r.getLong(1) > 0L))
  }

  test("retrievalMetrics: identity law, hand case, zero-overlap floor") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 3)
    val truth = Similarity.bruteForceTopK(emb, qs, 5)
      .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    // identity: a retriever audited against itself is perfect
    val ident = Similarity.retrievalMetrics(truth, truth, 5).collect()
    assert(ident.length == 3)
    assert(ident.forall(r => r.getLong(1) == 5L &&
      r.getLong(2) == 10000L && r.getLong(3) == 1000000L))
    // hand case: truth {1,2,3}, candidate hits {3 at rank 2, 1 at rank 5}
    val tr = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L))
      .toDF("query_id", "vec_id", "rank")
    val cd = Seq((0L, 9L, 1L), (0L, 3L, 2L), (0L, 8L, 3L), (0L, 7L, 4L),
      (0L, 1L, 5L)).toDF("query_id", "vec_id", "rank")
    val h = Similarity.retrievalMetrics(tr, cd, 5).collect()(0)
    assert(h.getLong(1) == 2L)               // hits: vec 3 and vec 1
    assert(h.getLong(2) == 2L * 10000 / 5)   // recall@5 = 0.4
    assert(h.getLong(3) == 1000000L / 2)     // first hit at candidate rank 2
    // zero overlap: metrics floor at 0, the query still appears
    val none = Seq((0L, 100L, 1L)).toDF("query_id", "vec_id", "rank")
    val z = Similarity.retrievalMetrics(tr, none, 5).collect()(0)
    assert(z.getLong(1) == 0L && z.getLong(2) == 0L && z.getLong(3) == 0L)
    // int8TopK emits a dense 1..k ranking per query
    val i8 = Similarity.int8TopK(emb, qs, 5)
    assert(i8.groupBy("query_id").agg(countDistinct("rank").as("n"), max("rank").as("m"))
      .collect().forall(r => r.getLong(1) == 5L && r.getLong(2) == 5L))
  }

  test("poissonBootstrap: weights match the scalar formula; replicate means bracket the truth") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val key = (col("l_orderkey") * 8 + col("l_linenumber")).cast("long")
    val out = Sampling.poissonBootstrap(li, key, col("l_extendedprice"), replicates = 8)
      .orderBy("replicate").collect()
    assert(out.length == 8)
    val n = li.count()
    val truth = li.agg(avg("l_extendedprice")).collect()(0).getDouble(0)
    for (r <- out) {
      // E[n_eff] = n: each replicate's weight sum concentrates hard
      assert(math.abs(r.getLong(1) - n) < n * 0.1, s"replicate ${r.getLong(0)} n_eff")
      assert(math.abs(r.getDouble(2) - truth) < truth * 0.1, "replicate mean near truth")
    }
    // replicates genuinely differ (independent weights per r)
    assert(out.map(_.getLong(1)).distinct.length > 1)
    // scalar cross-check: replicate 0's n_eff equals a driver-side fold
    // of the same fmix64 -> CDF bucketing
    val keys = li.select(key.as("k")).collect().map(_.getLong(0))
    def weight(k: Long, r: Long): Long = {
      val u = (graft.functions.Hashing.fmix64(k * 1000003L + r) >>> 11).toDouble /
        9007199254740992.0
      val i = Sampling.PoissonCdf.indexWhere(u < _)
      if (i < 0) 6L else i.toLong
    }
    assert(out(0).getLong(1) == keys.map(weight(_, 0L)).sum)
    assert(out(5).getLong(1) == keys.map(weight(_, 5L)).sum)
  }

  test("approx_percentile honors its accuracy contract against the exact bisection") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select((col("l_extendedprice") * 100).cast("long").as("cents"))
    val n = li.count()
    val accuracy = 100 // rank error bound: n / accuracy
    val approx = li.agg(expr(s"approx_percentile(cents, array(0.5, 0.99), $accuracy)"))
      .collect()(0).getSeq[Long](0)
    val exact = Sketch.exactQuantiles(li, "cents", Seq(0.5, 0.99))
      .orderBy("q").select("exact_value").collect().map(_.getLong(0))
    // the approx answer's RANK must sit within n/accuracy of the target
    val sorted = li.orderBy("cents").select("cents").collect().map(_.getLong(0))
    for ((q, a) <- Seq(0.5, 0.99).zip(approx)) {
      val target = math.max(1L, math.ceil(q * n).toLong)
      val rankLo = sorted.indexWhere(_ >= a) + 1L         // first rank holding a
      val rankHi = sorted.lastIndexWhere(_ <= a) + 1L     // last rank holding a
      val err = math.min(math.abs(rankLo - target), math.abs(rankHi - target))
      assert(err <= n / accuracy + 1,
        s"approx_percentile($q) rank error $err exceeds contract ${n / accuracy}")
    }
    // and the exact bisection returns true order statistics
    for ((q, e) <- Seq(0.5, 0.99).zip(exact)) {
      val target = math.max(1L, math.ceil(q * n).toLong)
      assert(sorted(target.toInt - 1) == e, s"exact quantile $q")
    }
  }

  test("rendezvousShard: keys move ONLY to the added shard, ~1/(n+1) of them") {
    import spark.implicits._
    val keys = (0L until 2000L).toDF("k")
    val d = keys.select(col("k"),
      Sampling.rendezvousShard(col("k"), 8).as("s8"),
      Sampling.rendezvousShard(col("k"), 9).as("s9")).collect()
    // every shard id in range; all 8 (and 9) shards actually used
    assert(d.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 8))
    assert(d.map(_.getLong(1)).distinct.length == 8)
    assert(d.map(_.getLong(2)).distinct.length == 9)
    // THE defining property: a key either keeps its shard or moves to
    // the NEW shard 8 — never between old shards
    assert(d.forall(r => r.getLong(2) == r.getLong(1) || r.getLong(2) == 8L))
    // movement fraction concentrates near 1/9
    val moved = d.count(r => r.getLong(2) != r.getLong(1))
    assert(moved > 2000 / 9 / 2 && moved < 2000 / 9 * 2, s"moved $moved")
    // scalar cross-check against a driver-side argmax
    def hrw(k: Long, n: Int): Long =
      (0 until n).maxBy(s => graft.functions.Hashing.fmix64(k * 31L + s) & Long.MaxValue).toLong
    for (r <- d.take(50)) assert(r.getLong(1) == hrw(r.getLong(0), 8))
  }

  test("goodTuring: hand-computed bigram count-of-counts; undefined estimates NULL") {
    import spark.implicits._
    // bigrams: "a b" x3, "b a" x2, "b c" x1, "c d" x1 ->
    // N_1 = 2, N_2 = 1, N_3 = 1
    val d = Seq((1L, "a b a b c d"), (2L, "a b a")).toDF("doc_id", "text")
    val r = TextAnalysis.goodTuring(d).orderBy("r").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 2L), (2L, 1L), (3L, 1L)))
    // r*_1 = 2 * N_2 / N_1 = 1.0; r*_2 = 3 * N_3 / N_2 = 3.0; r*_3 undefined
    assert(r(0).getLong(2) == 1000000L)
    assert(r(1).getLong(2) == 3000000L)
    assert(r(2).isNullAt(2))
    // single-word docs contribute nothing; maxR filters
    val one = Seq((1L, "solo")).toDF("doc_id", "text")
    assert(TextAnalysis.goodTuring(one).count() == 0)
  }

  test("cdcBoundaries kernel is value-identical to the per-position formulation") {
    import org.apache.spark.sql.graft.GraftFunctions._
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val fast = docs.select(col("doc_id"), cdc_boundaries(col("text"), 8, 32).as("b"))
    val slow = docs.select(col("doc_id"),
      filter(when(length(col("text")) >= 8, sequence(lit(8), length(col("text"))))
          .otherwise(array().cast("array<int>")),
        i => pmod(fnv64(col("text").substr(i - lit(7), lit(8))), lit(32)) === 0).as("b"))
    val f = fast.orderBy("doc_id").collect().map(_.getSeq[Int](1).toSeq)
    val s2 = slow.orderBy("doc_id").collect().map(_.getSeq[Int](1).toSeq)
    assert(f.toSeq == s2.toSeq)
    // short text: no window fits -> no boundaries
    val tiny = Seq((1L, "abc")).toDF("doc_id", "text")
      .select(cdc_boundaries(col("text"), 8, 32).as("b")).collect()(0).getSeq[Int](0)
    assert(tiny.isEmpty)
  }

  test("ksDrift: hand-computed statistic, shifted-distribution detection, identity zero") {
    import spark.implicits._
    // A = {1,2,3}, B = {2,3,4}: D = 1/3 at v=1 (cumA*nB - cumB*nA = 3 there)
    val d = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 2L), ("b", 3L), ("b", 4L))
      .toDF("g", "v")
    val r = graft.ops.Profile.ksDrift(d, "g", "v", "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      (3L, 3L, 3L, 333333L, 1L))
    // identical samples: D = 0
    val same = Seq(("a", 5L), ("a", 7L), ("b", 5L), ("b", 7L)).toDF("g", "v")
    assert(graft.ops.Profile.ksDrift(same, "g", "v", "a", "b")
      .collect()(0).getLong(2) == 0L)
    // a hard shift saturates: disjoint supports -> D = nA*nB (ks_x1e6 = 1e6)
    val shift = Seq(("a", 1L), ("a", 2L), ("b", 100L), ("b", 200L)).toDF("g", "v")
    assert(graft.ops.Profile.ksDrift(shift, "g", "v", "a", "b")
      .collect()(0).getLong(3) == 1000000L)
    // brute-force agreement on the fixture slice
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = graft.ops.Profile.ksDrift(docs, "source", "n_chars", "src0", "src1")
      .collect()(0)
    val a = docs.filter(col("source") === "src0").select("n_chars")
      .collect().map(_.getLong(0)).sorted
    val b = docs.filter(col("source") === "src1").select("n_chars")
      .collect().map(_.getLong(0)).sorted
    val want = (a ++ b).distinct.sorted.map { v =>
      math.abs(a.count(_ <= v).toLong * b.length - b.count(_ <= v).toLong * a.length)
    }.max
    assert(got.getLong(2) == want)
  }

  test("psiDrift: identical samples give zero terms; hand-computed contribution") {
    import spark.implicits._
    val same = (1 to 50).flatMap(i => Seq(("a", i.toLong), ("b", i.toLong)))
      .toDF("g", "v")
    val zero = graft.ops.Profile.psiDrift(same, "g", "v", "a", "b").collect()
    assert(zero.nonEmpty && zero.forall(_.getDouble(3) == 0.0))
    // two bins, hand-computed: A = {0 x3, 100 x1}, B = {0 x1, 100 x3}
    val d = (Seq.fill(3)(("a", 0L)) ++ Seq(("a", 100L)) ++
      Seq(("b", 0L)) ++ Seq.fill(3)(("b", 100L))).toDF("g", "v")
    val r = graft.ops.Profile.psiDrift(d, "g", "v", "a", "b", bins = 2).collect()
    assert(r.length == 2)
    val t0 = 1e6 * (0.75 - 0.25) * math.log(0.75 / 0.25)
    assert(math.abs(r(0).getDouble(3) - math.rint(t0 * 1e6) / 1e6) < 1e-6)
    // symmetric distributions: the two terms are equal (PSI is symmetric)
    assert(r(0).getDouble(3) == r(1).getDouble(3))
    // a bin empty on one side is skipped, not infinite
    val gap = Seq(("a", 0L), ("a", 0L), ("b", 0L), ("a", 100L)).toDF("g", "v")
    val g2 = graft.ops.Profile.psiDrift(gap, "g", "v", "a", "b", bins = 2).collect()
    assert(g2.length == 1 && g2(0).getLong(0) == 0L)
  }
}
