package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.model.{AxisSpec, BBox}
import graft.operators.{Crop, TemporalResample}
import graft.sources.SyntheticGrid

/** Property tests the reference lacks (SURVEY.md §5): laws that hold for
  * every parameter choice, checked over generated inputs.
  */
class PropertySpec extends SparkSpec {

  private def passes(p: Prop): Boolean =
    SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p).passed

  test("axis snapping law: nearestValue is idempotent and within step/2 of any in-range point") {
    val ax = AxisSpec(-83.5, 0.25, 19)
    val inRange = Gen.choose(ax.origin, ax.last)
    assert(passes(Prop.forAll(inRange) { v =>
      val s = ax.nearestValue(v)
      ax.nearestValue(s) == s && math.abs(s - v) <= ax.step / 2 + 1e-12
    }))
    // out-of-range points clamp to the axis ends
    assert(passes(Prop.forAll(Gen.choose(-200.0, 200.0)) { v =>
      val s = ax.nearestValue(v)
      s >= ax.origin && s <= ax.last
    }))
  }

  test("sorted_intersect_count equals size(array_intersect) on shingle_set/word_shingle_set outputs") {
    import spark.implicits._
    import org.apache.spark.sql.graft.GraftFunctions.{shingle_set, sorted_intersect_count,
      word_shingle_set}
    // a tiny vocabulary makes shared and repeated shingles common
    val text = Gen.listOf(Gen.oneOf("ab", "ba", "abc", "c", "a b")).map(_.mkString(" "))
    val pair = Gen.oneOf(Gen.zip(text, text), text.map(t => (t, t + " ab c")))
    def agrees(a: String, b: String) =
      sorted_intersect_count(col(a), col(b)) === size(array_intersect(col(a), col(b)))
    assert(passes(Prop.forAll(Gen.listOfN(40, pair)) { ps =>
      ps.toDF("a", "b").select(
          shingle_set(col("a"), 3).as("ca"), shingle_set(col("b"), 3).as("cb"),
          word_shingle_set(col("a"), 2).as("wa"), word_shingle_set(col("b"), 2).as("wb"))
        .filter(!(agrees("ca", "cb") && agrees("wa", "wb")))
        .isEmpty
    }))
  }

  test("upsample row-count law: steps = floor(span/step) + 1 per cell") {
    val g = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))
    val one = g.copy(df = g.df.filter(col("x") === -83.5 && col("y") === 41.25))
    val spanSeconds = 72L * 3600
    Seq(900L, 1800L, 3600L, 7200L, 10800L).foreach { step =>
      val n = TemporalResample.upsample(one, step, "linear").df.count()
      assert(n == spanSeconds / step + 1, s"step=$step gave $n")
    }
  }

  test("crop containment law: every surviving cell is within snapped bounds") {
    val lons = Gen.choose(-84.0, -79.0)
    val lats = Gen.choose(41.0, 43.0)
    val boxes = for {
      a <- lons; b <- lons; c <- lats; d <- lats
    } yield BBox(math.min(a, b), math.min(c, d), math.max(a, b), math.max(c, d))
    val g = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))
    val xa = SyntheticGrid.meta.xAxis.get; val ya = SyntheticGrid.meta.yAxis.get
    assert(passes(Prop.forAll(boxes) { b =>
      val box = b.expandIfDegenerate()
      val (xLo, xHi) = (xa.nearestValue(box.west), xa.nearestValue(box.east))
      val (yLo, yHi) = (ya.nearestValue(box.south), ya.nearestValue(box.north))
      val c = Crop.bbox(g, b)
      val outside = c.df.filter(
        col("x") < math.min(xLo, xHi) || col("x") > math.max(xLo, xHi) ||
        col("y") < math.min(yLo, yHi) || col("y") > math.max(yLo, yHi)).count()
      val expected = (math.abs(xa.nearestIndex(box.east) - xa.nearestIndex(box.west)) + 1).toLong *
        (math.abs(ya.nearestIndex(box.north) - ya.nearestIndex(box.south)) + 1) * 73
      outside == 0 && c.df.count() == expected
    }))
  }

  test("downsample conservation law: sum is preserved for any bucket width") {
    val g = SyntheticGrid.grid(spark).selectVariables(Seq("t2m"))
    val total = g.df.agg(sum("t2m")).collect()(0).getDouble(0)
    Seq("2 hours", "7 hours", "1 day", "3 days").foreach { freq =>
      val s = TemporalResample.downsample(g, freq, "sum")
        .df.agg(sum("t2m")).collect()(0).getDouble(0)
      assert(math.abs(s - total) < 1e-6, s"freq=$freq")
    }
  }

  test("image header law: build->parse round-trips for all dims; tails never disturb") {
    import graft.ops.Multimodal
    val dims = Gen.choose(1, 1 << 20) // PNG/BMP take the full i32-positive range
    val gifDims = Gen.choose(1, 65535)
    val tail = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    assert(passes(Prop.forAll(dims, dims, tail) { (w, h, t) =>
      Multimodal.headerDims(Multimodal.pngHeader(w, h) ++ t) == Some((w, h)) &&
      Multimodal.headerDims(Multimodal.bmpHeader(w, h) ++ t) == Some((w, h))
    }))
    assert(passes(Prop.forAll(gifDims, gifDims, tail) { (w, h, t) =>
      Multimodal.headerDims(Multimodal.gifHeader(w, h) ++ t) == Some((w, h))
    }))
    // a payload that is not one of the three formats never parses: any
    // prefix shorter than the shortest magic, or a corrupted magic byte
    assert(passes(Prop.forAll(dims, dims, Gen.choose(0, 9)) { (w, h, cut) =>
      Multimodal.headerDims(Multimodal.pngHeader(w, h).take(cut)).isEmpty
    }))
  }

  private def randomDocs(n: Int, vocab: Int, seed: Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val words = Seq.fill(3 + rnd.nextInt(20))(s"w${rnd.nextInt(vocab)}")
      (i.toLong, words.mkString(" "), "en", s"src${i % 3}", words.mkString(" ").length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("corpus-frequency conservation law: sum of freq_sum = sum of freq^2 over vocab") {
    // each occurrence of word w contributes freq(w) to its doc's
    // freq_sum, so the corpus-wide total is sum_w freq(w)^2
    for (seed <- Seq(1L, 2L, 3L)) {
      val d = randomDocs(40, 12, seed)
      val scored = graft.ops.TextAnalysis.corpusFrequencyScore(d)
      val total = scored.agg(sum("freq_sum")).collect()(0).getLong(0)
      val freqSq = d.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").count()
        .agg(sum(col("count") * col("count"))).collect()(0).getLong(0)
      assert(total == freqSq, s"seed=$seed")
    }
  }

  test("tfidf top-k law: <= k rows per doc, ranks dense from 1, scores non-increasing") {
    val d = randomDocs(30, 15, 7L)
    val rows = graft.ops.TextAnalysis.tfidfTopTerms(d, k = 3).collect()
    rows.groupBy(_.getLong(0)).foreach { case (id, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rk"))
      assert(byRank.length <= 3 && byRank.map(_.getAs[Long]("rk")).toSeq ==
        (1L to byRank.length).toSeq, s"doc $id ranks")
      val scores = byRank.map(_.getAs[Double]("tf_idf")).toSeq
      assert(scores == scores.sorted.reverse, s"doc $id monotone")
    }
  }

  test("duplicated-spans saturation law: doubling the corpus makes every span duplicated") {
    val d = randomDocs(25, 10, 11L)
    val doubled = d.unionAll(d.withColumn("doc_id", col("doc_id") + 1000L))
    val spans = graft.ops.TextAnalysis.duplicatedSpans(doubled, n = 4).collect()
    assert(spans.nonEmpty)
    spans.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) && r.getDouble(3) == 1.0,
        s"doc ${r.getLong(0)} not saturated")
    }
  }

  test("sequence-packing tiling law: every shard tiles gaplessly for any (budget, shards)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (budget <- Seq(1L, 7L, 256L); shards <- Seq(1, 3, 8)) {
      val rows = graft.ops.Sampling.packSequences(docs, budget, shards)
        .orderBy("shard", "doc_id").collect()
      assert(rows.nonEmpty)
      rows.groupBy(_.getLong(1)).foreach { case (shard, rs) =>
        // each shard's stream starts at 0 and every start is the
        // previous document's end — no gaps, no overlaps
        assert(rs.head.getLong(3) == 0L, s"shard $shard starts past 0")
        rs.sliding(2).foreach { w =>
          if (w.length == 2)
            assert(w(1).getLong(3) == w(0).getLong(3) + w(0).getLong(2),
              s"gap in shard $shard at doc ${w(1).getLong(0)}")
        }
        // chop indices are pure integer functions of (start, tokens)
        rs.foreach { r =>
          val (tok, start) = (r.getLong(2), r.getLong(3))
          assert(r.getLong(4) == start / budget &&
            r.getLong(5) == (start + tok - 1) / budget)
        }
      }
    }
  }

  test("inverted-index conservation law: unbanded df sums to all distinct (term, doc) pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val idx = graft.ops.TextAnalysis
      .invertedIndex(docs, minDf = 1, maxDf = Long.MaxValue).collect()
    val totalPairs = docs
      .select(explode(array_distinct(split(col("text"), " "))).as("t"))
      .filter(length(col("t")) > 0).count()
    assert(idx.map(_.getLong(1)).sum == totalPairs,
      "df over the full band must count every (term, doc) pair exactly once")
    idx.foreach { r =>
      val p = r.getSeq[Long](2)
      assert(p.length.toLong == r.getLong(1), s"df != postings for ${r.getString(0)}")
      assert(p == p.sorted && p.distinct == p, "postings must be sorted and distinct")
    }
  }

  test("sliding-chunk tiling law: stride-prefixes + final chunk reconstruct every doc") {
    val winStride = for {
      w <- Gen.choose(2, 12); s <- Gen.choose(1, w)
    } yield (w, s)
    val d = randomDocs(25, 10, 29L)
    val texts = d.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(passes(Prop.forAll(winStride) { case (w, s) =>
      val chunks = graft.ops.TextAnalysis.slidingChunks(d, w, s)
        .select("doc_id", "chunk_idx", "chunk").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      texts.forall { case (id, text) =>
        val words = text.split(" ", -1).toSeq
        val cs = chunks(id)
        val rebuilt = cs.init.flatMap(_.split(" ", -1).take(s)) ++ cs.last.split(" ", -1)
        // chunk-count formula and exact reconstruction
        cs.length == 1 + math.max(0, (words.length - w + s - 1) / s) &&
          rebuilt == words
      }
    }))
  }

  test("mixture-sample law: binding source kept whole, kept sets nest as shares shift") {
    val d = randomDocs(90, 6, 31L) // sources src0/src1/src2, 30 docs each
    val base = graft.ops.Sampling.mixtureSample(d,
      Map("src0" -> 1.0 / 3, "src1" -> 1.0 / 3, "src2" -> 1.0 / 3))
    assert(base.count() == 90, "uniform target over uniform corpus keeps everything")
    // any target keeps at least one source whole and never upsamples
    for (sh <- Seq(Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
                   Map("src0" -> 0.1, "src1" -> 0.1, "src2" -> 0.8))) {
      val kept = graft.ops.Sampling.mixtureSample(d, sh)
        .groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(kept.values.forall(_ <= 30L))
      assert(kept.values.exists(_ == 30L), s"no binding source in $kept")
    }
  }

  test("temperature-sample law: kept sets nest in alpha, smallest source always whole") {
    import spark.implicits._
    val d = ((0 until 200).map(i => (i.toLong, "big")) ++
      (0 until 50).map(i => (1000L + i, "mid")) ++
      (0 until 10).map(i => (2000L + i, "small"))).toDF("doc_id", "source")
    // rate_s = (n_min/n_s)^(1-alpha) rises with alpha and the
    // md5-threshold keep rule is monotone in the rate, so the kept set
    // can only GROW as alpha rises toward the identity at alpha=1
    val kept = Seq(0.25, 0.5, 0.75, 1.0).map { a =>
      graft.ops.Sampling.temperatureSample(d, a)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    kept.sliding(2).foreach { case Seq(lo, hi) => assert(lo.subsetOf(hi)) }
    assert(kept.last.size == 260, "alpha=1 is the identity")
    kept.foreach(s => assert((2000L until 2010L).forall(s.contains),
      "binding source kept whole at every alpha"))
  }

  test("bpe pair-count conservation: sum of pair counts = sum of (len-1) x word count") {
    val d = randomDocs(80, 12, 23L)
    // every word of length L contributes exactly L-1 adjacent pairs per
    // occurrence, so total pair mass is conserved — catches both a
    // dropped-word bug and a distinct-vs-occurrence weighting bug
    val pairs = graft.ops.TextAnalysis.bpePairCounts(d, k = 1000000).collect()
    val pairMass = pairs.map(_.getLong(3)).sum
    val expected = d.select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(org.apache.spark.sql.functions.col("text"), " ")).as("w"))
      .filter(org.apache.spark.sql.functions.col("w") =!= "")
      .collect().map(r => math.max(0, r.getString(0).length - 1).toLong).sum
    assert(pairMass == expected, s"$pairMass != $expected")
  }

  test("hashed classifier law: word order never changes the score") {
    import spark.implicits._
    val a = Seq((1L, "alpha beta gamma delta"), (2L, "same words different order")).toDF("doc_id", "text")
    val b = Seq((1L, "delta gamma beta alpha"), (2L, "order different words same")).toDF("doc_id", "text")
    val sa = graft.ops.TextAnalysis.hashedClassifierScore(a).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val sb = graft.ops.TextAnalysis.hashedClassifierScore(b).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // integer addition commutes, so a bag-of-words score is exactly
    // permutation-invariant — no float fold-order caveat needed
    assert(sa == sb)
  }

  test("capPerGroup law: at most N per group, kept set is the md5-min prefix, partition-invariant") {
    val d = randomDocs(60, 8, 13L)
    for (cap <- Seq(1, 5, 50)) {
      val kept = graft.ops.Sampling.capPerGroup(d, "source", "doc_id", cap)
        .select("source", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val byGroup = kept.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      byGroup.values.foreach(ids => assert(ids.size <= cap))
      // survivors are exactly the cap-smallest ids by (md5 prefix, id)
      val all = d.select("source", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      all.groupBy(_._1).foreach { case (src, rows) =>
        val expect = rows.map(_._2).sortBy(id =>
          (org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(16), id))
          .take(cap).toSet
        assert(byGroup.getOrElse(src, Set.empty) == expect, s"group $src cap $cap")
      }
      val keptRepart = graft.ops.Sampling.capPerGroup(d.repartition(5), "source", "doc_id", cap)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(keptRepart == kept.map(_._2).toSet)
    }
  }

  test("rrf symmetry law: fuse(a,b) == fuse(b,a) with system columns swapped") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 13L, 3L), (2L, 20L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 10L, 1L), (1L, 12L, 2L), (2L, 21L, 1L))
      .toDF("query_id", "doc_id", "rank")
    def key(df: org.apache.spark.sql.DataFrame, swap: Boolean) = df.collect()
      .map { r =>
        val (ra, rb) = (r.getLong(3), r.getLong(4))
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(5),
          if (swap) (rb, ra) else (ra, rb))
      }.toSet
    assert(key(graft.ops.Similarity.rrfFuse(a, b, 5), swap = false) ==
      key(graft.ops.Similarity.rrfFuse(b, a, 5), swap = true))
  }

  test("shuffleOrder shards=1 law: positions are the global hash-order permutation") {
    import spark.implicits._
    val ids = (0L until 64L).toDF("doc_id")
    val one = graft.ops.Sampling.shuffleOrder(ids, shards = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(one.map(_._2).toSet == Set(0L))            // single shard
    assert(one.map(_._3).sorted.toSeq == (1L to 64L)) // dense global positions
    // sharding only partitions that same hash order: within any shard
    // of an 8-way deal, relative order of ids matches the 1-shard deal
    val pos1 = one.map(t => t._1 -> t._3).toMap
    graft.ops.Sampling.shuffleOrder(ids, shards = 8).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(0)))
      .groupBy(_._1).values.foreach { rows =>
        val byPos = rows.sortBy(_._2).map(_._3)
        assert(byPos.map(pos1).sorted.toSeq == byPos.map(pos1).toSeq)
      }
  }

  test("charEntropy bounds law: 0 <= H <= ln(distinct_chars) for any text") {
    import spark.implicits._
    val texts = Gen.nonEmptyListOf(
      Gen.oneOf('a', 'b', 'c', 'd', ' ')).map(_.mkString)
    assert(passes(Prop.forAll(texts) { t =>
      val r = graft.ops.TextAnalysis.charEntropy(
        Seq((1L, t)).toDF("doc_id", "text")).collect()(0)
      val h = r.getAs[Double]("entropy_nats")
      val d = r.getAs[Long]("distinct_chars")
      // entropy_nats is rounded to 6 dp (oracle convention), so a
      // maximal-entropy text can round UP past ln(d) by up to half an
      // ulp of 1e-6 — e.g. uniform 5-symbol text: ln(5) = 1.6094379
      // rounds to 1.609438. The bound tolerance must cover that.
      h >= -1e-9 && h <= math.log(d.toDouble) + 5e-7
    }))
  }

  test("bpeEncode bounds law: words <= tokens <= chars, merges only shrink") {
    import spark.implicits._
    val words = Gen.nonEmptyListOf(Gen.oneOf("ab", "abab", "ba", "b")).map(_.mkString(" "))
    assert(passes(Prop.forAll(words) { t =>
      val d = Seq((1L, t)).toDF("doc_id", "text")
      def counts(merges: Seq[(String, String)]) = {
        val r = graft.ops.TextAnalysis.bpeEncode(d, merges).collect()(0)
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"))
      }
      val (w0, t0) = counts(Nil)                       // char tokenization
      val (w1, t1) = counts(Seq(("a", "b")))           // one merge
      val nChars = t.split(" ").filter(_.nonEmpty).map(_.length.toLong).sum
      w0 == w1 && t0 == nChars && t1 <= t0 && t1 >= w1
    }))
  }

  test("exactQuantiles monotonicity law: values non-decreasing in q, bins-invariant") {
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(Gen.choose(0L, 1000L))
    assert(passes(Prop.forAll(gen) { vs =>
      val df = vs.toDF("x")
      val qs = Seq(0.1, 0.5, 0.9)
      val a = graft.ops.Sketch.exactQuantiles(df, "x", qs, bins = 4)
        .orderBy("q").collect().map(_.getAs[Long]("exact_value")).toSeq
      val b = graft.ops.Sketch.exactQuantiles(df, "x", qs, bins = 64)
        .orderBy("q").collect().map(_.getAs[Long]("exact_value")).toSeq
      a == b && a.sorted == a
    }))
  }

  test("weightedQuantiles laws: monotone in q, bins-invariant, weight-scale-invariant") {
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 1000L), Gen.choose(1L, 9L)))
    assert(passes(Prop.forAll(gen, Gen.oneOf(2L, 7L, 100L)) { (vw, c) =>
      val df = vw.toDF("x", "w")
      val qs = Seq(0.1, 0.5, 0.9)
      val a = graft.ops.Sketch.weightedQuantiles(df, "x", "w", qs, bins = 4)
        .orderBy("q").collect().map(_.getAs[Long]("exact_value")).toSeq
      val b = graft.ops.Sketch.weightedQuantiles(df, "x", "w", qs, bins = 64)
        .orderBy("q").collect().map(_.getAs[Long]("exact_value")).toSeq
      // uniform INTEGER weight scaling never moves a weighted quantile:
      // c*cum >= ceil(c*q*tw) iff cum >= ceil(q*tw) because c*cum only
      // takes multiples of c — the law that makes "weights in tokens"
      // vs "weights in bytes-per-token-scale" choices immaterial
      val s = graft.ops.Sketch.weightedQuantiles(
          vw.map { case (v, w) => (v, w * c) }.toDF("x", "w"),
          "x", "w", qs, bins = 4)
        .orderBy("q").collect().map(_.getAs[Long]("exact_value")).toSeq
      a == b && a == s && a.sorted == a
    }))
  }

  // token pool for the published-gate laws: words (some stopwords, some
  // non-alpha), symbol spam, and line-structure fragments, so every
  // Gopher/C4 rule is exercised by the generated corpora
  private val gateTok = Gen.frequency(
    10 -> Gen.oneOf("word", "data", "the", "and", "of", "that", "alpha",
      "vector", "quantum", "42", "#", "…"),
    1 -> Gen.const("\n- bullet item line"),
    1 -> Gen.const("\nit continues on..."),
    1 -> Gen.const("\nThis sentence ends properly with many words here."))
  private val gateCorpus: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.choose(30, 130)
      .flatMap(n => Gen.listOfN(n, gateTok).map(_.mkString(" "))))

  test("gopherRules laws: flags = published thresholds over counts; tightening only removes; repartition-deterministic") {
    import spark.implicits._
    assert(passes(Prop.forAll(gateCorpus) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val rows = graft.ops.TextAnalysis.gopherRules(docs).collect()
      val flagsFromCounts = rows.forall { r =>
        val (nw, nc) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_word_chars"))
        val (nh, ne) = (r.getAs[Long]("n_hash"), r.getAs[Long]("n_ellipsis"))
        val (nl, nb, nel) = (r.getAs[Long]("n_lines"),
          r.getAs[Long]("n_bullet_lines"), r.getAs[Long]("n_ellipsis_lines"))
        val (na, ns) = (r.getAs[Long]("n_alpha_words"),
          r.getAs[Long]("n_stopword_kinds"))
        r.getAs[Boolean]("ok_word_count") == (nw >= 50L && nw <= 100000L) &&
        r.getAs[Boolean]("ok_mean_word_len") == (3 * nw <= nc && nc <= 10 * nw) &&
        r.getAs[Boolean]("ok_hash_ratio") == (10 * nh <= nw) &&
        r.getAs[Boolean]("ok_ellipsis_ratio") == (10 * ne <= nw) &&
        r.getAs[Boolean]("ok_bullet_lines") == (10 * nb <= 9 * nl) &&
        r.getAs[Boolean]("ok_ellipsis_lines") == (10 * nel <= 3 * nl) &&
        r.getAs[Boolean]("ok_alpha_words") == (5 * na >= 4 * nw) &&
        r.getAs[Boolean]("ok_stopwords") == (ns >= 2L) &&
        r.getAs[Boolean]("gopher_pass") == (
          r.getAs[Boolean]("ok_word_count") && r.getAs[Boolean]("ok_mean_word_len") &&
          r.getAs[Boolean]("ok_hash_ratio") && r.getAs[Boolean]("ok_ellipsis_ratio") &&
          r.getAs[Boolean]("ok_bullet_lines") && r.getAs[Boolean]("ok_ellipsis_lines") &&
          r.getAs[Boolean]("ok_alpha_words") && r.getAs[Boolean]("ok_stopwords"))
      }
      // tightening EVERY threshold (counts are in the output, so the
      // tightened gate is pure arithmetic over the same rows): a doc
      // passing the tight gate must pass the published one
      val monotone = rows.forall { r =>
        val (nw, nc) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_word_chars"))
        val tight =
          nw >= 60L && nw <= 90000L &&
          4 * nw <= nc && nc <= 9 * nw &&
          20 * r.getAs[Long]("n_hash") <= nw &&
          20 * r.getAs[Long]("n_ellipsis") <= nw &&
          10 * r.getAs[Long]("n_bullet_lines") <= 8 * r.getAs[Long]("n_lines") &&
          10 * r.getAs[Long]("n_ellipsis_lines") <= 2 * r.getAs[Long]("n_lines") &&
          10 * r.getAs[Long]("n_alpha_words") >= 9 * nw &&
          r.getAs[Long]("n_stopword_kinds") >= 3L
        !tight || r.getAs[Boolean]("gopher_pass")
      }
      // pure column expressions: the flags must not depend on layout
      val rep = graft.ops.TextAnalysis.gopherRules(docs.repartition(7))
        .collect().map(_.toSeq).toSet
      flagsFromCounts && monotone && rep == rows.map(_.toSeq).toSet
    }))
  }

  test("c4Clean laws: blocklist growth only removes pages; kept set shrinks monotonically; repartition-deterministic") {
    import spark.implicits._
    assert(passes(Prop.forAll(gateCorpus) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def keptIds(bl: Seq[String]): Set[Long] =
        graft.ops.TextAnalysis.c4Clean(docs, bl).filter(col("kept"))
          .collect().map(_.getAs[Long]("doc_id")).toSet
      val k0 = keptIds(Nil)
      val k1 = keptIds(Seq("vector"))
      val k2 = keptIds(Seq("vector", "quantum"))
      // adding a blocklist term can only remove pages, never add or
      // change a surviving page's cleaned text
      val nested = k2.subsetOf(k1) && k1.subsetOf(k0)
      val full = graft.ops.TextAnalysis.c4Clean(docs, Seq("vector"))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Boolean]("kept"), r.getAs[String]("text_clean"))).toMap
      val rep = graft.ops.TextAnalysis.c4Clean(docs.repartition(5), Seq("vector"))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Boolean]("kept"), r.getAs[String]("text_clean"))).toMap
      // line reassembly is order-pinned (array_sort over (idx, line)),
      // so the cleaned text — not just the verdict — is layout-invariant
      nested && rep == full
    }))
  }

  test("incremental near-dup law holds on GENERATED corpora: any docs, any split point") {
    import spark.implicits._
    // random corpora of near-dup families: each family is a distinct
    // word stream (seeded, so families never near-dup each other) with
    // 1-3 members that append short tails (Jaccard stays high); ids
    // assigned in generation order so ANY split point preserves the
    // ingest-order invariant the law requires
    val family = for {
      seedWords <- Gen.listOfN(14, Gen.oneOf(
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
        "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
        "oscar", "papa", "quebec", "romeo", "sierra", "tango"))
      salt <- Gen.choose(0, 999999)
      nMembers <- Gen.choose(1, 3)
      tails <- Gen.listOfN(nMembers - 1, Gen.oneOf(" x", " yy", " zzz"))
    } yield {
      val base = (seedWords :+ s"tag$salt").mkString(" ")
      base :: tails.map(base + _)
    }
    val corpora = for {
      fams <- Gen.nonEmptyListOf(family)
      docs = fams.flatten.take(24)
      split <- Gen.choose(0, docs.size)
    } yield (docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }, split)
    val params = SCTest.Parameters.default.withMinSuccessfulTests(8)
    assert(SCTest.check(params, Prop.forAll(corpora) { case (docs, split) =>
      val df = docs.toDF("doc_id", "text")
      val old = df.filter(col("doc_id") < split)
      val incoming = df.filter(col("doc_id") >= split)
      assert(disjointIds(old, incoming, "doc_id"), "precondition: slice ids are new")
      val index = graft.ops.Dedup.minhashBandIndex(old, k = 5,
        numHashes = 64, bands = 16)
      spark.catalog.clearCache() // clean baseline for the no-leak law below
      val inc = graft.ops.Dedup.incrementalMinhashDedup(index, old, incoming,
          k = 5, numHashes = 64, bands = 16, threshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // the incremental operator releases its own internals (r11): the
      // CacheManager is as empty after the slice action as before it —
      // the per-slice no-leak law, property-checked across every
      // generated corpus; only batch minhashDedup still persists
      // (caller-owned), cleared below
      val noLeak = spark.sharedState.cacheManager.isEmpty
      val batch = graft.ops.Dedup.minhashDedup(df, k = 5, numHashes = 64,
          bands = 16, threshold = 0.5)
        .filter(col("doc_id") >= split)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      spark.catalog.clearCache() // batch minhashDedup persists internals
      inc == batch && noLeak
    }).passed, "incremental == batch on the union, for every generated corpus and split")
  }

  test("exactSubstrDedup equals the sequential reference on GENERATED corpora (tiny vocab, natural collisions)") {
    import spark.implicits._
    // an independent sequential implementation of the same semantics
    // (string-keyed — also witnesses that the distributed fnv64
    // hash-keying changes nothing): every n-gram occurrence, keep the
    // global (doc_id, pos)-first of each gram seen >= 2 times, taint
    // the rest's covers, reassemble survivors
    def reference(docs: Seq[(Long, String)], n: Int): Map[Long, (String, Int)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSeq }
      val occ = for {
        (id, ws) <- toks
        p <- 0 to ws.length - n
      } yield (ws.slice(p, p + n).mkString(" "), id, p)
      val tainted: Set[(Long, Int)] = occ.groupBy(_._1).values
        .filter(_.size >= 2)
        .flatMap { os =>
          val first = os.minBy(o => (o._2, o._3))
          os.filterNot(o => o._2 == first._2 && o._3 == first._3)
        }
        .flatMap { case (_, id, p) => (p until p + n).map(id -> _) }
        .toSet
      toks.map { case (id, ws) =>
        val kept = ws.zipWithIndex.collect {
          case (w, i) if !tainted((id, i)) => w
        }
        id -> (kept.mkString(" "), kept.length)
      }.toMap
    }
    // tiny vocabulary + short grams: natural duplicated 4-grams are
    // frequent, so keep-first, overlapping covers, and intra-doc
    // repeats all get exercised without planting
    val word = Gen.oneOf("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    val doc = Gen.choose(2, 18).flatMap(len => Gen.listOfN(len, word))
      .map(_.mkString(" "))
    val corpus = Gen.choose(4, 12)
      .flatMap(k => Gen.listOfN(k, doc))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val params = SCTest.Parameters.default.withMinSuccessfulTests(10)
    assert(SCTest.check(params, Prop.forAll(corpus) { docs =>
      val got = graft.ops.TextAnalysis
        .exactSubstrDedup(docs.toDF("doc_id", "text"), n = 4)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("text_clean"), r.getAs[Long]("n_tokens_kept").toInt))
        .toMap
      val want = reference(docs, n = 4)
      // fully-excised docs disappear from the distributed output (the
      // chunkDedup convention); the reference reports them as empty
      docs.forall { case (id, _) =>
        got.getOrElse(id, ("", 0)) == want(id)
      }
    }).passed, "distributed anchor+extend must equal the sequential reference")
  }

  test("cluster-lifecycle law: incremental fold and component-local retraction equal batch closure on generated graphs") {
    import spark.implicits._
    // random edge sets over a small id space, random old/slice split
    // point, random takedown set — every slice-edge shape (new-new,
    // new-old, old-old bridging, within-cluster) and every retraction
    // shape (bridge split, edge-starved survivor, untouched cluster)
    // arises organically across the generated instances
    val edge = for {
      u <- Gen.choose(0L, 15L); v <- Gen.choose(0L, 15L) if u != v
    } yield (math.min(u, v), math.max(u, v))
    val graphs = for {
      n <- Gen.choose(3, 12)
      es <- Gen.listOfN(n, edge)
      split <- Gen.choose(0L, 15L)
      removed <- Gen.someOf(0L to 15L)
    } yield (es.distinct, split, removed.toSeq)
    val params = SCTest.Parameters.default.withMinSuccessfulTests(6)
    assert(SCTest.check(params, Prop.forAll(graphs) { case (es, split, rm) =>
      val all = es.toDF("doc_id_a", "doc_id_b")
      val old = es.filter(e => e._1 < split && e._2 < split)
        .toDF("doc_id_a", "doc_id_b")
      val slice = es.filter(e => !(e._1 < split && e._2 < split))
        .toDF("doc_id_a", "doc_id_b")
      def cmap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = cmap(graft.ops.Dedup.dupClusters(all))
      val inc = cmap(graft.ops.Dedup.incrementalDupClusters(
        graft.ops.Dedup.dupClusters(old), slice))
      val surviving = es.filter(e => !rm.contains(e._1) && !rm.contains(e._2))
        .toDF("doc_id_a", "doc_id_b")
      val retracted = cmap(graft.ops.Dedup.retractFromClusters(
        graft.ops.Dedup.dupClusters(all), all, rm.toDF("doc_id")))
      inc == batch &&
        retracted == cmap(graft.ops.Dedup.dupClusters(surviving))
    }).passed,
      "incremental == batch on the union AND retraction == batch on survivors")
  }

  test("card-state algebra law: merge/retract equal from-scratch states on generated corpora") {
    import spark.implicits._
    // random corpora over a tiny lang set with empty texts mixed in
    // (the zero-row convention's hard case), a random shard split, and
    // a random takedown subset — merge ≡ union's state and
    // retract-after-merge ≡ survivors' state must hold for all of it
    val docGen = for {
      lang <- Gen.oneOf("en", "de", "fr")
      n <- Gen.frequency(2 -> Gen.const(0), 8 -> Gen.choose(1, 40))
    } yield (lang, Seq.fill(n)("w").mkString(" "))
    val corpora = for {
      k <- Gen.choose(2, 10)
      ds <- Gen.listOfN(k, docGen)
      split <- Gen.choose(0, k)
      rm <- Gen.someOf(0 until k)
    } yield (ds.zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) },
      split, rm.toSeq.map(_.toLong))
    def smap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val params = SCTest.Parameters.default.withMinSuccessfulTests(8)
    assert(SCTest.check(params, Prop.forAll(corpora) { case (ds, split, rm) =>
      val bins = 8; val lo = 0L; val hi = 32L
      def st(rows: Seq[(Long, String, String)]) =
        graft.ops.Profile.cardState(rows.toDF("doc_id", "lang", "text"),
          bins, lo, hi)
      val merged = graft.ops.Profile.mergeCardStates(
        st(ds.take(split)), st(ds.drop(split)))
      val mergeLaw = smap(merged) == smap(st(ds))
      val removedRows = ds.filter(d => rm.contains(d._1))
      val retracted = graft.ops.Profile.retractCardState(merged,
        removedRows.toDF("doc_id", "lang", "text"), bins, lo, hi)
      val retractLaw =
        smap(retracted) == smap(st(ds.filterNot(d => rm.contains(d._1))))
      mergeLaw && retractLaw
    }).passed, "merge ≡ union state AND retract ≡ survivors' state")
  }
}
