package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.GraftFunctions._

/** Text-analysis operators over `documents(doc_id, text, ...)` — all
  * pure column expressions (whole-stage codegen, no UDFs), so they cost
  * one scan regardless of corpus size.
  */
object TextAnalysis {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** BPE-ish subword count: word-piece regex (letter runs, digit runs,
    * single punctuation) — an upper-bound proxy for tokenizer cost.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  private val stopwords = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with", "for", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des"),
    "es" -> Seq("el", "la", "los", "y", "es", "en", "que", "por", "una", "con"))

  private def stopwordHits(text: Column, lang: String): Column = {
    val pattern = stopwords(lang).mkString("(?i)\\b(", "|", ")\\b")
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")
  }

  /** N-gram-heuristic language ID: the language whose stopword lexicon
    * hits most; ties resolve alphabetically; no hits -> "und" (undetermined).
    */
  def langId(text: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    // max over structs = lexicographic (hits, -rank) -> highest hit count,
    // alphabetically-first language on ties
    val entries = langs.zipWithIndex.map { case (l, i) =>
      struct(stopwordHits(text, l).as("hits"), lit(-i).as("neg_rank"), lit(l).as("lang"))
    }
    val best = greatest(entries: _*)
    when(best.getField("hits") === 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** Quality features + a composite score in [0, 1]:
    * mean of (length in [100, 10000] chars), (alpha ratio >= 0.6),
    * (punct ratio <= 0.1), (stopword ratio >= 0.01), each graded 0/1.
    */
  def qualityFeatures(docs: DataFrame): DataFrame = {
    val text = col("text")
    val nChars = length(text).cast("long")
    val nAlpha = length(regexp_replace(text, "[^A-Za-z]", "")).cast("long")
    val nPunct = length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}-]", "")).cast("long")
    val nTokens = tokenCount(text)
    val enHits = stopwordHits(text, "en")
    val safeTok = greatest(nTokens, lit(1L))
    val safeChars = greatest(nChars, lit(1L))
    docs.select(col("doc_id"), nChars.as("n_chars"), nTokens.as("n_tokens"),
        (nAlpha.cast("double") / safeChars).as("alpha_ratio"),
        (nPunct.cast("double") / safeChars).as("punct_ratio"),
        (enHits.cast("double") / safeTok).as("stopword_ratio"),
        (nChars.cast("double") / safeTok).as("mean_token_len"))
      .withColumn("quality_score",
        ((col("n_chars").between(100, 10000)).cast("double") +
         (col("alpha_ratio") >= 0.6).cast("double") +
         (col("punct_ratio") <= 0.1).cast("double") +
         (col("stopword_ratio") >= 0.01).cast("double")) / 4.0)
  }

  /** Hashed linear-classifier scoring — the INFERENCE shape of the
    * fastText-style quality classifiers LLM pipelines run over every
    * document (Joulin et al. 2017, "Bag of tricks for efficient text
    * classification"; the CCNet / RefinedWeb quality gate): each word
    * hashes into a fixed-width weight table (1024 buckets — a power of
    * two, so the signed pmod and the oracle's unsigned HUGEINT modulus
    * agree exactly) and the document score is the mean bucket weight.
    *
    * Weights here are derived from the bucket hash itself (fmix64 low
    * bits, centered) — a deterministic, oracle-replayable stand-in for
    * trained weights; production swaps in a learned float array as a
    * broadcast lookup without changing the plan, which is the point:
    * hashing + transform + in-row aggregate is ONE scan with ZERO
    * shuffle, codegen end to end. The integer raw score is exact (and
    * order-independent — integer addition commutes), the mean is one
    * division.
    */
  def hashedClassifierScore(docs: DataFrame): DataFrame = {
    val words = filter(split(col("text"), " "), w => w =!= lit(""))
    val weights = transform(words, w => pmod(fnv_mix64(w), lit(1024L)) - lit(512L))
    docs.select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        aggregate(weights, lit(0L), (acc, x) => acc + x).as("raw_score"))
      .withColumn("score",
        round(col("raw_score").cast("double") / greatest(col("n_words"), lit(1L)), 6))
  }

  /** BPE pair-merge counting — the inner loop of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016): count adjacent symbol
    * pairs weighted by word frequency and surface the top merge
    * candidates. This is the FIRST merge iteration over character
    * symbols, exposed as the distributed primitive; full training
    * re-segments and repeats with the chosen merge applied (a
    * driver-side loop over this pass, exactly like dupClusters
    * iterates its shuffle step).
    *
    * Scale shape: one corpus scan into a vocabulary-sized word-count
    * agg (the ONLY data-sized shuffle — pair extraction then runs over
    * DISTINCT words, so a word occurring a billion times is segmented
    * once), a pair agg bounded by alphabet², and top-k through
    * orderBy+limit (TakeOrderedAndProject — per-partition top-k merged
    * on the driver, no global sort materialized). Pairs ride the
    * [[org.apache.spark.sql.graft.GraftFunctions.char_bigrams]] codegen
    * kernel as `(left << 16) | right` integer codes.
    */
  def bpePairCounts(docs: DataFrame, k: Int = 10): DataFrame = {
    val wc = docs
      .select(explode(filter(split(col("text"), " "), w => w =!= lit(""))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcount"))
    wc.select(explode(char_bigrams(col("word"))).as("pair"), col("wcount"))
      .groupBy("pair").agg(sum(col("wcount")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(k)
      .select(col("pair"), shiftright(col("pair"), 16).as("left_code"),
        col("pair").bitwiseAND(65535).as("right_code"), col("pair_count"))
  }

  /** One greedy left-to-right BPE merge pass over a symbol array:
    * adjacent (l, r) becomes l+r, non-overlapping, leftmost-first —
    * an `aggregate` fold, per-row, no shuffle. Shared by training
    * (re-segmentation) and [[bpeEncode]] (tokenizer apply).
    */
  private def applyBpeMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Apply a trained BPE merge list — the tokenizer-APPLY pass every
    * pretraining pipeline runs over the full corpus after training on
    * a sample: per document, the exact token count under the merges
    * (and the word count). Handles OOV words naturally: unseen words
    * just fold the merge list over their characters like any other.
    *
    * 100 TB shape: the merge folds run once per DISTINCT word (the
    * vocabulary-sized relation), never per occurrence — the corpus
    * only streams through the word explode and the final count agg,
    * and the (word, n_toks) map joins back AQE-broadcast. The fold
    * chain nests `merges.length` aggregate HOFs; keep apply lists
    * modest (production tokenizers precompute the vocab table — that
    * path is [[bpeTrain]]'s returned segmentation joined directly).
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(filter(split(col("text"), " "), w => w =!= lit(""))).as("word"))
    var syms: Column = filter(split(col("word"), ""), s => s =!= lit(""))
    merges.foreach { case (l, r) => syms = applyBpeMerge(syms, l, r) }
    val enc = words.select("word").distinct()
      .withColumn("n_toks", size(syms).cast("long"))
    words.join(enc, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("n_tokens"))
  }

  /** Full BPE tokenizer training — the driver loop over the
    * distributed pair-count primitive ([[bpePairCounts]] is its first
    * iteration over char pairs): repeat numMerges times { count
    * adjacent symbol pairs weighted by word frequency; adopt the most
    * frequent pair as a merge; re-segment }. Ties break
    * (count desc, left, right) so training is deterministic.
    *
    * Scale shape (the dupClusters iteration pattern): the ONLY
    * corpus-sized shuffle is the word-count agg, once — every
    * iteration then works on the VOCABULARY-sized (word, wcount, syms)
    * relation; the per-iteration "collect" is the argmax pair (ONE
    * row — cap-before-collect trivially); and each re-segmentation is
    * eagerly checkpointed so iteration N carries one materialized
    * relation, not N layers of fold lineage (reliable checkpoint when
    * the session has a checkpoint dir, localCheckpoint fallback —
    * same policy as dupClusters). Merging applies greedily
    * left-to-right inside an `aggregate` fold over the symbol array —
    * per-row, no shuffle.
    *
    * Returns (merge list (left, right, count) in adoption order, final
    * (word, wcount, syms) segmentation). The caller owns the returned
    * DataFrame's checkpoint/cache lifecycle.
    */
  def bpeTrain(docs: DataFrame,
               numMerges: Int): (Seq[(String, String, Long)], DataFrame) = {
    require(numMerges >= 1 && numMerges <= 65536)
    var cur = Iterate.checkpointed(docs
      .select(explode(filter(split(col("text"), " "), w => w =!= lit(""))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcount"))
      .withColumn("syms",
        filter(split(col("word"), ""), s => s =!= lit(""))))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var exhausted = false
    for (_ <- 0 until numMerges if !exhausted) {
      val top = cur
        .select(explode(when(size(col("syms")) >= 2,
            transform(sequence(lit(0), size(col("syms")) - 2),
              i => struct(element_at(col("syms"), i + 1).as("l"),
                element_at(col("syms"), i + 2).as("r"))))
          .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("p"),
          col("wcount"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wcount")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((l, r, c))
        cur = Iterate.checkpointed(
          cur.withColumn("syms", applyBpeMerge(col("syms"), l, r)))
      }
    }
    (merges.toSeq, cur)
  }

  /** Document fingerprints: md5 (cross-engine verifiable) + the rolling
    * polynomial hash (native expression), both over whitespace-normalized
    * lowercase text.
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    docs.select(col("doc_id"),
      md5(norm).as("md5_fingerprint"),
      rolling_hash64(norm).as("rolling_fingerprint"))
  }

  /** Train/eval n-gram contamination check — the decontamination pass of
    * a training-data pipeline (flag training documents that share long
    * word n-grams with a benchmark/eval set; Brown et al. 2020 App. C).
    *
    * Per train doc: distinct word n-grams, how many occur anywhere in
    * the eval set, and the contaminated fraction. The eval gram relation
    * is gram-distinct and joined once on the gram string — corpus-linear
    * (train text streams through once; eval is benchmark-sized and
    * typically broadcastable), never a doc x doc comparison. Documents
    * shorter than n words have no grams and drop out.
    */
  def ngramContamination(train: DataFrame, eval: DataFrame,
                         n: Int = 5): DataFrame = {
    val evalGrams = distinctGramRows(eval, n).select("gram").distinct()
      .withColumn("__hit", lit(1))
    distinctGramRows(train, n)
      .join(evalGrams, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_shared"))
      .withColumn("contamination",
        col("n_shared").cast("double") / col("n_grams"))
  }

  /** Per-doc DISTINCT word n-gram array — the contamination family's
    * shared gram stage (one builder serves [[ngramContamination]]'s
    * both sides, [[benchmarkGramIndex]]'s publish, and
    * [[contaminationAgainstIndex]]'s probe, so the published index and
    * the live check cannot drift). The dedup happens INSIDE the row
    * (array_distinct before any explode) — a document is one row, so
    * no corpus-wide distinct shuffle is ever needed on the train side.
    */
  private def distinctGramArray(n: Int): Column = {
    val words = split(col("text"), " ")
    when(size(words) >= n,
        array_distinct(transform(sequence(lit(0), size(words) - n),
          i => concat_ws(" ", slice(words, i + 1, lit(n))))))
      .otherwise(array())
  }

  private def distinctGramRows(df: DataFrame, n: Int): DataFrame =
    df.select(col("doc_id"), explode(distinctGramArray(n)).as("gram"))

  /** The PUBLISHED benchmark gram index — [[ngramContamination]]
    * restructured as publish-then-probe for the pipeline that
    * decontaminates every weekly slice against a fixed benchmark
    * suite: the suite's distinct word n-grams are materialized ONCE
    * per benchmark release (benchmark-sized — thousands of docs — so
    * the relation is small and broadcastable), and each slice probes
    * it via [[contaminationAgainstIndex]] without re-processing the
    * suite. Grams are stored as strings (exact-match semantics, no
    * collision caveat); the [[benchmarkGramBloom]] sidecar carries the
    * hashed form for the map-side pre-prune.
    */
  def benchmarkGramIndex(eval: DataFrame, n: Int = 5): DataFrame =
    distinctGramRows(eval, n).select("gram").distinct()

  /** Bloom sidecar over the benchmark index's grams (hashed
    * `xxhash64(gram)`), published beside the index — the
    * [[Dedup.indexBloom]] machinery with gram keys. The probe side
    * hashes identically in [[contaminationAgainstIndex]]; no false
    * negatives, so the pruned check EQUALS the unpruned one (spec
    * law). Benchmark suites hold ~1e5–1e7 grams, inside the aggregate
    * caps; a larger suite splits into per-benchmark sidecars.
    */
  def benchmarkGramBloom(index: DataFrame, expectedKeys: Long = -1L,
                         fpp: Double = 0.01): Array[Byte] =
    Dedup.keyedBloom(index.select(col("gram")).distinct(),
      xxhash64(col("gram")), expectedKeys, fpp,
      "split the suite and publish one benchmarkGramBloom per shard")

  /** The LIFECYCLE form of the benchmark index — per-doc (doc_id,
    * gram) postings instead of [[benchmarkGramIndex]]'s gram-distinct
    * set (VERDICT r12 #8: benchmark suites rotate — new releases
    * append, retired evals retract — and a bare gram set cannot say
    * which suite contributed a gram, so it can only rebuild). The
    * per-doc shape makes the lifecycle compositional with the
    * machinery that already exists:
    *
    *  - append (a new benchmark release): plain `unionByName` of the
    *    new suite's postings ([[appendToBenchmarkIndex]]);
    *  - retract (a retired eval): [[Dedup.retractFromIndex]]'s
    *    doc-keyed broadcast anti-join ([[retractFromBenchmarkIndex]]),
    *    after which a gram survives iff a LIVE suite doc still holds
    *    it — exactly the rebuild-on-survivors answer;
    *  - the probe is UNCHANGED: [[contaminationAgainstIndex]] reads
    *    only the `gram` column and its semi-join is duplicate-
    *    indifferent, and [[benchmarkGramBloom]] distincts before
    *    sketching — both accept either index form, so publish and
    *    probe cannot drift across the migration. Rebuild the bloom
    *    sidecar with every retraction (blooms cannot delete — the
    *    TakedownDemo convention).
    *
    * Eval suites are metadata-sized (thousands of docs), so the whole
    * lifecycle is metadata-priced; the n174 oracle drives
    * build-two-suites → retract-one → probe against the from-scratch
    * single-suite recompute.
    */
  def benchmarkGramPostings(eval: DataFrame, n: Int = 5): DataFrame =
    distinctGramRows(eval, n)

  /** Append a new benchmark release to the postings index (disjoint
    * doc ids by the suite convention — no merging needed).
    */
  def appendToBenchmarkIndex(postings: DataFrame, newEval: DataFrame,
                             n: Int = 5): DataFrame =
    postings.unionByName(benchmarkGramPostings(newEval, n))

  /** Retract a retired eval suite from the postings index — the
    * doc-keyed anti-join shared with every per-doc index family.
    * `removedDocIds` is one `doc_id` column.
    */
  def retractFromBenchmarkIndex(postings: DataFrame,
                                removedDocIds: DataFrame): DataFrame =
    Dedup.retractFromIndex(postings, removedDocIds)

  /** Contamination stats of a train slice against a PUBLISHED
    * [[benchmarkGramIndex]] — output and semantics identical to
    * [[ngramContamination]] (the spec pins row-for-row equality), with
    * the eval side read from the index instead of recomputed.
    *
    * 100 TB shape: per-doc totals come from the in-row distinct-gram
    * array (`size`, no shuffle), so the only gram-sized relation is
    * the probe stream — and with the `bloom` sidecar that stream is
    * filtered MAP-SIDE before the semi-join: a clean document's grams
    * (the overwhelming mass) never shuffle at all; only the
    * contaminated sliver plus fpp noise reaches the join, which
    * re-checks exactly (false positives cost a lookup, never a wrong
    * count). The gram-array relation feeds two consumers (totals +
    * probe); it is persisted MEMORY_AND_DISK for the run and RELEASED
    * before returning (the incremental-dedup convention: the stats are
    * checkpoint-materialized first, doc-sized) — the alternative,
    * rebuilding per-doc totals from the exploded stream, would
    * reintroduce a corpus-gram-sized aggregation input, and a second
    * text scan + gram rebuild costs more than spilling the arrays.
    */
  def contaminationAgainstIndex(train: DataFrame, index: DataFrame,
                                n: Int = 5,
                                bloom: Option[Array[Byte]] = None): DataFrame = {
    val base = train.select(col("doc_id"), distinctGramArray(n).as("__g"))
      .filter(size(col("__g")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val probe0 = base.select(col("doc_id"), explode(col("__g")).as("gram"))
      val probed = bloom.fold(probe0)(bf =>
        probe0.filter(might_contain(lit(bf), xxhash64(col("gram")))))
      val hits = probed.join(index.select("gram"), Seq("gram"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      val stats = base
        .select(col("doc_id"), size(col("__g")).cast("long").as("n_grams"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)).cast("double") /
            col("n_grams")).as("contamination"))
      graft.ops.Iterate.checkpointed(stats)
    } finally base.unpersist(blocking = false)
  }

  /** The decontamination FILTER over [[contaminationAgainstIndex]]:
    * keep train docs whose contaminated gram fraction stays at or
    * under `maxContamination` (default 0 — any shared n-gram drops the
    * doc, the Brown et al. 2020 App. C stance). Documents shorter than
    * n words carry no grams, are never flagged, and survive.
    */
  def decontaminateAgainstIndex(train: DataFrame, index: DataFrame,
                                n: Int = 5,
                                bloom: Option[Array[Byte]] = None,
                                maxContamination: Double = 0.0): DataFrame = {
    val flagged = contaminationAgainstIndex(train, index, n, bloom)
      .filter(col("contamination") > maxContamination).select("doc_id")
    train.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** Word-repetition quality signals (the MassiveText/Gopher repetition
    * filters' base statistics — Rae et al. 2021, table A1): total and
    * distinct word counts and the repeated fraction 1 - distinct/total.
    * Computed entirely inside the row (array expressions) — one scan,
    * no shuffle, codegen'd.
    */
  def repetitionFeatures(docs: DataFrame): DataFrame = {
    val blank = length(trim(col("text"))) === 0
    val words = split(col("text"), " ")
    val total = when(blank, lit(0)).otherwise(size(words))
    val dist = when(blank, lit(0)).otherwise(size(array_distinct(words)))
    docs.select(col("doc_id"),
      total.cast("long").as("n_words"),
      dist.cast("long").as("n_distinct_words"),
      when(total === 0, lit(0.0))
        .otherwise(lit(1.0) - dist.cast("double") / total.cast("double"))
        .as("repetition_ratio"))
  }

  /** Column form of the repetition ratio (1 - distinct/total words),
    * for composing into filter pipelines; blank text is 0.
    */
  def repetitionRatio(text: Column): Column = {
    val words = split(text, " ")
    when(length(trim(text)) === 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(words)).cast("double") / size(words).cast("double"))
  }

  /** Top-word share: the fraction of word occurrences taken by the most
    * frequent word of each document (the Gopher "most common word"
    * repetition filter). Unlike [[repetitionFeatures]] this one is the
    * explode + partial-agg shape: word counts shuffle keyed by
    * (doc_id, word) with map-side combine, so a single pathological
    * document never exceeds one task's reducer and the operator scales
    * with the corpus, not the longest document. Documents with no words
    * drop out (no gram basis to grade).
    */
  def topWordShare(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_words"), max(col("n")).as("top_n"))
      .select(col("doc_id"), col("n_words"), col("top_n"),
        (col("top_n").cast("double") / col("n_words")).as("top_word_share"))

  /** Corpus-frequency scoring — the train->score shape of a statistical
    * quality filter (a unigram LM's count pass): aggregate global word
    * frequencies over the corpus, join them back, and grade each
    * document by the mean corpus frequency of its words (high = built
    * from common words, low = rare/noisy vocabulary). The vocabulary
    * relation is orders of magnitude smaller than the corpus (heavy-hit
    * words dominate), so the score join is broadcast-able at any corpus
    * size where the vocabulary fits an executor; AQE picks the
    * broadcast when the stats allow. All aggregates are exact integer
    * sums — reproducible on any partitioning (and by the oracle).
    * Documents with no words drop out (no vocabulary basis to grade).
    */
  def corpusFrequencyScore(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val vocab = words.groupBy("word").agg(count(lit(1)).as("word_freq"))
    words.join(vocab, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("word_freq")).as("freq_sum"))
      .select(col("doc_id"), col("n_words"), col("freq_sum"),
        (col("freq_sum").cast("double") / col("n_words")).as("mean_word_freq"))
  }

  /** TF-IDF top-`k` terms per document — the keyword-extraction pass.
    * Two exact aggregations (term frequency per doc, document frequency
    * per term) and a top-k window; the document count is a 1-row
    * broadcast (no driver-side action). IDF is the linear `N / df`
    * form, which keeps every score an exact integer ratio: the ranking
    * (and the oracle's hash compare) never hinges on a transcendental
    * whose last ulp differs between engines. Ties rank by rarer term
    * first (df asc), then term text, so row_number is total.
    * The `rank <= k` filter sits directly on the row_number, which
    * Spark's WindowGroupLimit rewrites into per-map-task partial top-k
    * — no full sort of any document's term list at scale.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    val score = (col("tf") * col("n_docs")).cast("double") / col("df")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(score.desc, col("df").asc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tf_idf", score)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tf_idf"), col("rk"))
  }

  /** Duplicated-span detection — the exact-substring layer of training
    * -data dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): for each document, how many of its word
    * `n`-gram positions are spans that also occur in ANOTHER document.
    * Downstream can drop or clip those spans; here we emit the per-doc
    * audit counts.
    *
    * Shape: one scan -> positional grams hashed to a 128-bit digest (the
    * shuffle carries 32-byte keys, not 50+-char text spans — same
    * principle as the md5-keyed exact dedup) -> per-(doc, gram) counts
    * -> a per-gram aggregate marks grams seen in more than one doc ->
    * joined back -> per-doc rollup. No self-join and nothing quadratic:
    * cost is linear in total corpus words, keyed by gram digest exactly
    * like the LSH banding shuffles.
    *
    * The shared-gram marking is a window over the gram digest, which
    * computes the gram relation ONCE (an agg + join-back shape is
    * AQE-skew-splittable where windows are not, but it references the
    * gram relation twice, and Spark re-executes the whole scan+explode
    * per reference — measured 1.7x slower, and at 100 TB it reads the
    * corpus twice). The window's skew exposure is bounded by the
    * per-(doc, gram) pre-aggregation: a hot gram's partition holds one
    * row per DOCUMENT containing it, never one per occurrence. A corpus
    * with pathological boilerplate (one span in ~10^9 docs) should
    * pre-filter such grams or switch to the join shape; for the audit's
    * purpose (nd > 1 is all that matters) that partition only feeds a
    * count. Documents shorter than `n` words have no spans and drop out.
    */
  def duplicatedSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = split(col("text"), " ")
    val gramArr = when(size(words) >= n,
        transform(sequence(lit(0), size(words) - n),
          i => md5(concat_ws(" ", slice(words, i + 1, lit(n))))))
      .otherwise(array())
    docs.select(col("doc_id"), explode(gramArr).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("g"))))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_grams"),
        sum(when(col("nd") > 1, col("cnt")).otherwise(lit(0L))).as("n_dup_positions"))
      .withColumn("dup_share",
        col("n_dup_positions").cast("double") / col("n_grams"))
  }

  /** Exact-substring dedup with REMOVAL — the acting counterpart of
    * [[duplicatedSpans]]'s audit (Lee et al. 2022 §3 remove-and-rejoin,
    * simplified to disjoint `chunkWords`-word chunks so removal is
    * well-defined without overlapping-span arbitration): every chunk
    * that already occurred earlier in the corpus (first occurrence =
    * smallest (doc_id, chunk_idx)) is dropped, and each document's
    * surviving chunks are re-joined in order.
    *
    * Shape: one scan -> posexplode of the disjoint chunks -> ONE
    * shuffle keyed by md5(chunk) where a row_number window picks the
    * first occurrence -> one shuffle back to doc_id for reassembly.
    * The winner rule is a total order ((doc_id, chunk_idx) is unique),
    * so the survivor set is engine-independent. The window partition
    * key is the 16-byte digest, but unlike the audit the chunk TEXT
    * must ride the shuffle — it is the payload being reassembled, so
    * that movement is the output itself, not overhead. A hot chunk
    * (corpus boilerplate) concentrates its occurrences on one
    * partition; the window computes only row_number, so the partition
    * streams (no buffering beyond the sort run) — skew costs sort
    * spill, not memory. Documents whose every chunk is a repeat
    * disappear from the output (their deduped text is empty).
    */
  def chunkDedup(docs: DataFrame, chunkWords: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = split(col("text"), " ")
    val nChunks = ceil(size(words).cast("double") / chunkWords).cast("long")
    val chunks = docs.select(col("doc_id"), nChunks.as("n_chunks"),
      posexplode(transform(sequence(lit(0), (nChunks - 1).cast("int")),
        i => array_join(slice(words, i * chunkWords + 1, lit(chunkWords)), " ")))
        .as(Seq("chunk_idx", "chunk")))
    val firstWins = Window.partitionBy(md5(col("chunk")))
      .orderBy(col("doc_id"), col("chunk_idx"))
    chunks
      .withColumn("rn", row_number().over(firstWins))
      .filter(col("rn") === 1)
      .groupBy("doc_id")
      .agg(first(col("n_chunks")).as("n_chunks"),
        count(lit(1)).as("kept_chunks"),
        array_join(
          transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
            s => s("chunk")), " ").as("text_deduped"))
  }

  /** Arbitrary-boundary exact-substring dedup, after Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr): remove every duplicated token span of length >= `n`
    * WHEREVER it starts — the guarantee [[chunkDedup]] cannot give,
    * because its spans live on a fixed `chunkWords` grid and a
    * duplicate shifted by a single token never lines up with any chunk
    * (the spec plants exactly that defeat). The paper's construction
    * is a corpus-wide suffix array — inherently a shared-memory scan;
    * this is the distributed re-expression: ANCHOR on every word
    * n-gram occurrence, mark the non-first occurrences of every gram
    * that occurs more than once, and let their n-token covers union
    * into maximal removed spans (a duplicated span of length L >= n
    * contains L-n+1 duplicated anchors, so the cover is exactly the
    * span — extension left/right is the overlap of consecutive
    * anchors, no sequential pass needed). First occurrence KEEPS its
    * copy (min (doc_id, pos) — Lee et al.'s keep-one policy with a
    * deterministic winner); every other occurrence loses its covered
    * tokens, and each document reassembles from its surviving tokens
    * in order. Single pass, the paper's convention: removal can
    * splice new adjacencies, which are not re-examined.
    *
    * Guarantee (spec law): the output contains no token span of
    * length >= n shared by two documents — each duplicated gram
    * survives in at most its one first position, and intra-document
    * repeats collapse the same way.
    *
    * 100 TB shape: anchors shuffle as (8-byte gram hash, doc_id,
    * position) rows keyed by the hash — never gram text (fnv64, the
    * [[lineDedup]] convention and its accepted 2^-64 collision risk) —
    * with map-side partial aggregation into (first occurrence, count)
    * per gram; only grams with count >= 2 survive that reduction (the
    * duplicated sliver, boilerplate-sized), join back hash-keyed (AQE
    * broadcasts when small), and the taint explode is n x dup-sized,
    * not corpus-sized. Reassembly shuffles surviving words keyed by
    * doc_id — that movement is the output itself. No windows, no
    * global sort, nothing quadratic. Documents shorter than n words
    * anchor nothing and pass through whole; documents whose every
    * token is covered disappear (the [[chunkDedup]] convention).
    */
  def exactSubstrDedup(docs: DataFrame, n: Int = 8): DataFrame = {
    require(n >= 2, "span length must be >= 2 tokens")
    val toks = substrToks(docs)
    val occ = gramOccurrences(toks, n)
    // per-gram first occurrence and count via ONE g-keyed window over
    // the occurrence relation, instead of the old groupBy + join-back:
    // Spark has no cross-branch subplan reuse, so the agg+join shape
    // re-ran the corpus scan + tokenize + gram-hash explode once per
    // reference — the exact pattern [[duplicatedSpans]] measured 1.7x
    // slower than the window (its scaladoc). Skew exposure is the
    // same: a hot boilerplate gram's partition holds its occurrence
    // rows either way, and the window computes only min/count over
    // them. The non-first occurrences of duplicated grams taint their
    // n-token cover exactly as before (same rows by construction —
    // min(struct) over the partition IS the groupBy min).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val tainted = occ
      .withColumn("first", min(struct(col("doc_id"), col("pos"))).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") >= 2 &&
        !(col("doc_id") === col("first.doc_id") &&
          col("pos") === col("first.pos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()
    reassembleSurvivors(toks, tainted)
  }

  /** Word-token relation (doc_id, ws) shared by the exact-substring
    * family — one tokenization, so the batch operator, the gram index,
    * and the incremental path cannot disagree on what a token is.
    */
  private def substrToks(docs: DataFrame): DataFrame = {
    val ws = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    docs.select(col("doc_id"), ws.as("ws"))
  }

  /** Every word-n-gram occurrence, anchored at its 0-based start —
    * (doc_id, pos, g) with g the fnv64 of the joined gram.
    */
  private def gramOccurrences(toks: DataFrame, n: Int): DataFrame =
    toks.filter(size(col("ws")) >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("ws")) - n),
          i => fnv64(array_join(slice(col("ws"), i + 1, lit(n)), " "))))
          .as(Seq("pos", "g")))

  /** Non-first occurrences of duplicated grams taint their n-token
    * cover; overlapping covers union into the maximal duplicated span.
    * `dupG` rows are (g, first struct(doc_id, pos), cnt >= 2).
    */
  private def taintedCovers(occ: DataFrame, dupG: DataFrame, n: Int): DataFrame =
    occ.join(dupG.select(col("g"), col("first")), Seq("g"))
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()

  /** Reassemble each document from its untainted tokens in order —
    * the output stage shared by the batch and incremental paths.
    */
  private def reassembleSurvivors(toks: DataFrame, tainted: DataFrame): DataFrame = {
    val words = toks.select(col("doc_id"), size(col("ws")).as("n_tokens"),
      posexplode(col("ws")).as(Seq("pos", "word")))
    words.join(tainted, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(first(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_tokens_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("word")))),
            s => s("word")), " ").as("text_clean"))
  }

  /** The persisted GRAM INDEX of a corpus — the exact-substring
    * family's member of the incremental-index ladder (VERDICT r11 #8:
    * [[exactSubstrDedup]] was batch-only, so a weekly slice re-anchored
    * the whole corpus): one row per distinct word-n-gram hash with its
    * global first occurrence and occurrence count,
    * (g, first struct(doc_id, pos), cnt). ALL grams are kept, not just
    * the duplicated sliver — a gram the corpus holds once becomes
    * duplicated the moment a slice re-presents it, and an index without
    * it would silently admit that copy. Published at snapshot time
    * (8-byte keys + a 12-byte struct + a long — gram-count-sized, far
    * smaller than the text it summarizes); counts are ADDITIVE and
    * first is a MIN, so maintenance is [[mergeGramIndex]] (the n159
    * algebra: append/merge in any order equals the from-scratch build).
    *
    * 100 TB shape: one shuffle of (8-byte hash, doc_id, pos) rows with
    * map-side partial aggregation — the [[exactSubstrDedup]] anchor
    * pass, minus its cnt >= 2 filter. Lay it out hash-bucketed by `g`
    * so slice probes co-locate.
    */
  def exactSubstrGramIndex(docs: DataFrame, n: Int = 8): DataFrame = {
    require(n >= 2, "span length must be >= 2 tokens")
    gramOccurrences(substrToks(docs), n)
      .groupBy("g")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
        count(lit(1)).as("cnt"))
  }

  /** Merge two gram indexes — the additive maintenance step after a
    * slice is admitted: counts sum, first occurrences take the global
    * min. Law (spec): `mergeGramIndex(gramIndex(a), gramIndex(b)) ==
    * gramIndex(a ∪ b)` — so a maintained index never drifts from a
    * from-scratch rebuild, whatever order slices landed in.
    */
  def mergeGramIndex(index: DataFrame, delta: DataFrame): DataFrame =
    index.unionByName(delta)
      .groupBy("g")
      .agg(min(col("first")).as("first"), sum(col("cnt")).as("cnt"))

  /** Gram-index RETRACTION — the takedown third of the exact-substring
    * lifecycle ([[exactSubstrGramIndex]] build / [[mergeGramIndex]]
    * append / this): subtract the removed documents' gram multiset
    * from the counts (the n159 refcount algebra — counts are additive,
    * so retraction is a decrement, never a corpus re-anchor) and drop
    * rows that reach zero. `removedDocs` carries the purged documents'
    * TEXT (the purge request has the payload — the
    * retractFromDigestCounts convention, including its replay
    * contract: derive removedDocs from the LIVE corpus so retries
    * subtract nothing twice).
    *
    * The `first` pointer is deliberately NOT recomputed: min is not
    * invertible without the full occurrence list, and a first citing a
    * purged document is semantically INERT for the incremental path —
    * its only use is the exemption equality against SLICE occurrences
    * ([[incrementalExactSubstrDedup]]), which can never match a corpus
    * (doc_id, pos), stale or live. The spec therefore pins the law
    * that matters, not pointer freshness: dedup against the retracted
    * index EQUALS batch [[exactSubstrDedup]] over (corpus ∖ removed) ∪
    * slice restricted to the slice — a gram held ONLY by purged docs
    * frees (its re-crawled copy keeps its tokens, the n154 admission
    * semantics), a gram a survivor still holds keeps suppressing.
    *
    * 100 TB shape: the removed docs' gram aggregate is
    * takedown-sized, so the join broadcasts it; untouched grams
    * rewrite unchanged (or become a merge-on-read delta in a
    * deletion-vector lake).
    */
  def retractFromGramIndex(index: DataFrame, removedDocs: DataFrame,
                           n: Int = 8): DataFrame = {
    require(n >= 2, "span length must be >= 2 tokens")
    val removed = gramOccurrences(substrToks(removedDocs), n)
      .groupBy("g").agg(count(lit(1)).as("r_cnt"))
    index.join(removed, Seq("g"), "left")
      .select(col("g"), col("first"),
        (col("cnt") - coalesce(col("r_cnt"), lit(0L))).as("cnt"))
      .filter(col("cnt") >= 1L)
  }

  /** Incremental exact-substring dedup of a crawl slice against a
    * published [[exactSubstrGramIndex]] — [[exactSubstrDedup]] without
    * re-anchoring the corpus: excise from each INCOMING document every
    * token covered by a non-first occurrence of a duplicated gram,
    * where "duplicated" and "first" are judged over corpus ∪ slice by
    * merging the slice's own anchor statistics with the index's
    * (counts add, first takes the min — per gram, one index row).
    * Corpus documents are never rewritten (the published text is
    * immutable; under the ingest-order invariant every corpus
    * occurrence precedes every slice occurrence, so the corpus side
    * never loses a token to the slice anyway — slice copies always
    * lose). Spec law: the output EQUALS batch [[exactSubstrDedup]]
    * over corpus ∪ slice restricted to the slice's doc_ids, with the
    * corpus side's anchors READ from the index, never recomputed.
    *
    * 100 TB shape: the slice re-anchors only ITSELF; the corpus
    * enters through ONE g-keyed join against the slice's
    * distinct-gram relation (slice-gram-sized — point lookups into
    * the hash-bucketed index, the bloom-prunable shape); the taint
    * explode is slice-occurrence-sized. Nothing corpus-sized moves.
    */
  def incrementalExactSubstrDedup(index: DataFrame, incoming: DataFrame,
                                  n: Int = 8): DataFrame = {
    require(n >= 2, "span length must be >= 2 tokens")
    val toks = substrToks(incoming)
    val occ = gramOccurrences(toks, n)
    val sliceAgg = occ.groupBy("g")
      .agg(min(struct(col("doc_id"), col("pos"))).as("s_first"),
        count(lit(1)).as("s_cnt"))
    // merged per-gram statistics over corpus ∪ slice: only the slice's
    // grams matter (a corpus gram the slice never presents taints
    // nothing new), so the index joins slice-gram-sized
    val dupG = sliceAgg
      .join(index.withColumnsRenamed(
        Map("first" -> "c_first", "cnt" -> "c_cnt")), Seq("g"), "left")
      .select(col("g"),
        when(col("c_first").isNotNull,
          least(col("c_first"), col("s_first"))).otherwise(col("s_first"))
          .as("first"),
        (coalesce(col("c_cnt"), lit(0L)) + col("s_cnt")).as("cnt"))
      .filter(col("cnt") >= 2)
    reassembleSurvivors(toks, taintedCovers(occ, dupG, n))
  }

  /** Line-level dedup (the C4 / CCNet boilerplate pass): remove every
    * line that occurs in at least `minDocs` DISTINCT documents —
    * headers, footers, navigation, cookie banners — and reassemble each
    * document's surviving lines in order. Line-granular, cross-document:
    * the complement of [[chunkDedup]] (which is span-granular,
    * first-occurrence-wins).
    *
    * 100 TB shape: two corpus-line-sized passes. The counting pass
    * shuffles (line_hash, doc_id) longs — never line text — with
    * map-side partial aggregation; its output above `minDocs` is the
    * boilerplate set, which is tiny by nature (each member prints in
    * >= minDocs documents) and joins back as a hash-set lookup (AQE
    * broadcasts it; no hint — the relation is runtime-sized). The
    * reassembly pass shuffles surviving line text once, keyed by
    * doc_id — that movement is the output itself. Documents whose
    * every line is boilerplate disappear (empty after cleanup), as in
    * [[chunkDedup]]. 64-bit line hashing accepts the standard 2^-64
    * collision risk (cf. exactDedup's md5).
    */
  def lineDedup(docs: DataFrame, minDocs: Long = 5): DataFrame = {
    import org.apache.spark.sql.functions.{count_distinct => countDistinctCol}
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("line_idx", "line")))
    val frequent = lines
      .groupBy(fnv64(col("line")).as("line_hash"))
      .agg(countDistinctCol(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("line_hash")
    lines.join(frequent, fnv64(col("line")) === col("line_hash"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("line_idx"), col("line")))),
            s => s("line")), "\n").as("text_clean"))
  }

  /** Char-bigram cross-entropy — the dependency-free stand-in for the
    * KenLM perplexity quality filter (CCNet trains a 5-gram LM; the
    * statistical shape — score each document by how surprising its
    * character sequence is under corpus statistics — is identical at
    * bigram order). avg_nll = ln(total_bigrams) - mean(ln cnt(bigram)):
    * low = conventional text, high = rare character sequences (mojibake,
    * binary spill, wrong-language fragments). Documents shorter than
    * two chars have no bigrams and drop out.
    *
    * 100 TB shape: everything after the bigram explode is
    * (doc, distinct-bigram)-sized. The first aggregation collapses to
    * per-document bigram multiplicities (map-side combine within each
    * document's partition run), the corpus counts reduce THAT relation
    * onto a character-vocabulary-squared key space, and the scoring
    * join brings the small counts relation back (AQE broadcast). The
    * per-document fold runs over occ * ln(cnt) terms in BIGRAM-SORTED
    * order — float addition is order-sensitive, so the fold order is
    * pinned identically on both engines (the repo's sequential-fold
    * convention); grouping equal terms first is what keeps the folded
    * list distinct-bigram-sized instead of document-sized. Bigrams are
    * integer codes from the one-pass [[CharBigrams]] codegen expression
    * (per-position substring over UTF8String is O(position) each —
    * quadratic per document) and shuffle as longs, not strings.
    * Persisted intermediates stay registered in the session
    * CacheManager — caller-owned lifecycle (Bench clearCache()s
    * between runs; long-lived sessions should do the same after
    * materializing downstream results).
    */
  def bigramCrossEntropy(docs: DataFrame): DataFrame = {
    val grams = docs
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), explode(char_bigrams(col("text"))).as("bigram"))
    val docGrams = grams.groupBy("doc_id", "bigram").agg(count(lit(1)).as("occ"))
    // persisted: char-vocab²-sized and referenced by both the scoring
    // join and the total — unpersisted, Spark rebuilds the whole
    // corpus-sized docGrams chain once per reference (3x in the plan)
    val counts = docGrams.groupBy("bigram").agg(sum(col("occ")).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = counts.agg(sum(col("cnt")).as("total"))
    docGrams.join(counts, Seq("bigram"))
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_bigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("bigram"), col("occ"), col("cnt")))),
            s => s("occ") * log(s("cnt"))),
          lit(0.0), (acc, x) => acc + x).as("sum_ln"))
      .crossJoin(total)
      .select(col("doc_id"), col("n_bigrams"),
        round(log(col("total")) - col("sum_ln") / col("n_bigrams"), 6).as("avg_nll"))
  }

  /** The PUBLISHED char-bigram LM state — [[bigramCrossEntropy]]'s
    * corpus statistics split out as a maintained relation
    * `(bigram: long, cnt: long)`, the quality-model member of the
    * lifecycle family: a production gate scores every incoming slice
    * against the REFERENCE corpus's statistics (the CCNet/KenLM
    * stance — the LM is trained once on curated text, then applied at
    * ingestion), so the counts must be a published artifact, not a
    * per-run recompute. Pure count algebra: slices merge by keyed
    * addition ([[mergeBigramLmStates]]), a takedown subtracts the
    * removed docs' own contribution ([[retractBigramLmState]] — the
    * purge reaches the quality MODEL too: machine unlearning for the
    * gate), rows free at zero, and interleavings commute. Char-vocab²
    * rows — metadata-sized, broadcastable.
    */
  def bigramLmState(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 2)
      .select(explode(char_bigrams(col("text"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))

  /** Keyed addition over two LM states — associative/commutative;
    * zero rows drop so a fully-retracted bigram vanishes exactly as a
    * rebuild would omit it.
    */
  def mergeBigramLmStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("bigram"))
      .agg(sum(col("cnt")).as("cnt")).filter(col("cnt") =!= 0L)

  /** LM-state retraction: subtract the removed docs' own bigram
    * multiset (negated merge — the n159 algebra). Retraction ≡ the
    * state built on the survivors (spec law).
    */
  def retractBigramLmState(state: DataFrame, removedDocs: DataFrame): DataFrame =
    mergeBigramLmStates(state,
      bigramLmState(removedDocs)
        .select(col("bigram"), (-col("cnt")).as("cnt")))

  /** Score documents against a PUBLISHED LM state — the ingestion-time
    * perplexity gate: [[bigramCrossEntropy]]'s formula with the counts
    * read from `state` instead of recomputed from the scored corpus
    * itself (scoring a slice against ITS OWN statistics is exactly the
    * self-reference the published state removes). A bigram the state
    * has never seen scores cnt = 1 — ln(1) = 0, the maximum surprise
    * the formula can express — so out-of-distribution text (new
    * scripts, mojibake) gates hardest, which is the point. Parity law
    * (spec): scoring a corpus against its own from-scratch state
    * equals [[bigramCrossEntropy]] row-for-row.
    *
    * 100 TB shape: the state is char-vocab²-sized and BROADCASTS into
    * the scoring join; the slice streams through once (per-doc
    * multiplicities collapse map-side); the per-document fold runs in
    * bigram order — the sequential-fold convention — so both engines
    * add ln-terms identically.
    */
  def bigramNllAgainstState(docs: DataFrame, state: DataFrame): DataFrame = {
    // a negative count is ALWAYS lifecycle corruption (a retraction run
    // against the wrong state — mergeBigramLmStates only drops exact
    // zeros): log(negative) would silently yield null avg_nll, so fail
    // fast instead — the cardFromState convention for the same
    // corruption class
    val neg = state.filter(col("cnt") < 0L).limit(1).collect()
    require(neg.isEmpty,
      s"LM state carries a negative count (${neg.headOption}) — a " +
        "retraction ran against the wrong state")
    val grams = docs
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), explode(char_bigrams(col("text"))).as("bigram"))
    val docGrams = grams.groupBy("doc_id", "bigram").agg(count(lit(1)).as("occ"))
    val counts = state.select(col("bigram"), col("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    docGrams.join(broadcast(counts), Seq("bigram"), "left")
      .select(col("doc_id"), col("bigram"), col("occ"),
        coalesce(col("cnt"), lit(1L)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_bigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("bigram"), col("occ"), col("cnt")))),
            s => s("occ") * log(s("cnt"))),
          lit(0.0), (acc, x) => acc + x).as("sum_ln"))
      .crossJoin(total)
      .select(col("doc_id"), col("n_bigrams"),
        round(log(col("total")) - col("sum_ln") / col("n_bigrams"), 6).as("avg_nll"))
  }

  /** Vocabulary coverage curve: for each k in `ks`, how many corpus
    * token occurrences the k most frequent words cover — the
    * measurement behind tokenizer vocabulary sizing (what does a 32k
    * vocab actually buy on this corpus?). All integers: (vocab_k,
    * covered_tokens, total_tokens).
    *
    * 100 TB shape: the word count is the standard one-shuffle pass;
    * the top-max(ks) selection is `orderBy(...).limit(...)` — Spark
    * plans TakeOrderedAndProject, a distributed per-partition top-k
    * merged on the driver, NOT a global sort — and the only
    * unpartitioned window (the cumulative sum) runs on that max(ks)-
    * bounded relation, never on the vocabulary. Ties rank
    * deterministically by (count desc, word).
    */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int] = Seq(100, 1000, 10000)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ks.nonEmpty && ks.forall(_ > 0))
    val counts = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = counts.agg(sum(col("cnt")).as("total_tokens"))
    val w = Window.orderBy(col("cnt").desc, col("word"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = counts.orderBy(col("cnt").desc, col("word")).limit(ks.max)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("word"))))
      .withColumn("covered_tokens", sum(col("cnt")).over(w))
    // a k beyond the vocabulary reports the full-vocabulary coverage
    val kDf = ranked.sparkSession.createDataFrame(
      ks.map(k => Tuple1(k.toLong))).toDF("vocab_k")
    kDf.join(ranked,
        col("rnk") <= col("vocab_k"))
      .groupBy("vocab_k")
      .agg(max(col("covered_tokens")).as("covered_tokens"))
      .crossJoin(total)
  }

  /** Overlapping sliding-window chunks — the preprocessing shape every
    * embedding/RAG pipeline runs before vectorizing long documents:
    * word windows of `windowWords` advancing by `strideWords`
    * (overlap = window - stride), chunk i = words[i*stride, i*stride +
    * window). Every word is covered; the final window may be short; a
    * document shorter than one window is one chunk. All-integer chunk
    * arithmetic (`1 + ceil((n - window) / stride)` via integer
    * division), so the tiling replays exactly.
    *
    * One scan, no shuffle: pure per-row explode — the chunk relation
    * inherits the corpus partitioning, ready for the embedding stage
    * (or [[graft.ops.Sampling.packSequences]]) downstream.
    */
  def slidingChunks(docs: DataFrame, windowWords: Int = 64,
                    strideWords: Int = 48): DataFrame = {
    require(windowWords >= strideWords && strideWords > 0,
      "need 0 < stride <= window (gaps would drop words)")
    val words = split(col("text"), " ")
    val nChunks = lit(1) + greatest(lit(0L),
      ((size(words) - windowWords + strideWords - 1) / strideWords).cast("long"))
    docs.select(col("doc_id"), words.as("__w"), nChunks.as("__nc"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, cast(__nc - 1 as int)), " +
          s"i -> array_join(slice(__w, i * $strideWords + 1, $windowWords), ' '))"))
          .as(Seq("chunk_idx", "chunk")))
      .withColumn("n_words",
        when(col("chunk") === "", 0L)
          .otherwise(size(split(col("chunk"), " ")).cast("long")))
  }

  /** Text cleanup — the pass that runs BEFORE any hash-keyed operator
    * (exact dedup, fingerprints, minhash, the inverted index): NFC
    * Unicode normalization (e + U+0301 and é must collide), control-
    * character strip (C0/C1 minus the whitespace ones), whitespace-run
    * collapse, and trim. Without it, two byte-level spellings of the
    * same document sail through every digest-keyed dedup in the
    * pipeline. Pure column expressions over one scan — the NFC step is
    * a codegen Catalyst expression ([[NfcNormalize]]) with an
    * isNormalized fast path, since Spark ships no Unicode normalizer.
    * `was_dirty` (did cleanup change anything) comes along for audit
    * and filtering.
    */
  def cleanText(docs: DataFrame): DataFrame = {
    val stripped = regexp_replace(nfc_normalize(col("text")),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val collapsed = trim(regexp_replace(stripped, "\\s+", " "))
    docs.withColumn("text_clean", collapsed)
      .withColumn("was_dirty",
        (col("text_clean") =!= col("text")).cast("long"))
  }

  /** Inverted index — term -> (document frequency, sorted postings
    * list) for every term in the df band `[minDf, maxDf]`. The retrieval
    * backbone of corpus search/decontamination tooling, and the classic
    * shuffle-keyed-by-term build.
    *
    * Two passes, on purpose: pass 1 is a counting aggregate (partial
    * map-side combine, shuffle rows are (term, count)) that decides the
    * df band; pass 2 collects postings ONLY for surviving terms. The
    * band matters at scale: without `maxDf`, a stopword's postings list
    * holds one entry per document in the corpus — a single aggregation
    * buffer of ~10^9 ids at 100 TB (the collect_list mirror of the LSH
    * bucket cap, and why the cap must be decided BEFORE any collection
    * happens). The band join is vocabulary-sized — broadcastable at any
    * corpus size — so pass 2's shuffle carries only banded (term,
    * doc_id) rows — no hard broadcast hint, so AQE picks broadcast when
    * the band fits and degrades to a shuffle join when a pathological
    * band would OOM an executor. Terms are per-doc distinct (postings,
    * not positions).
    */
  def invertedIndex(docs: DataFrame, minDf: Long = 2,
                    maxDf: Long = 10000): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf, "need 1 <= minDf <= maxDf")
    val terms = docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .filter(length(col("term")) > 0)
    val banded = terms.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df").between(minDf, maxDf))
    terms.join(banded, Seq("term"))
      .groupBy(col("term"), col("df"))
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"))
  }

  /** BM25 ranked retrieval (Okapi BM25, Robertson et al.) — the search
    * side of [[invertedIndex]]: score candidate documents for each
    * query and return the top `k` by
    * `idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))` summed over the
    * query's distinct terms, idf = ln((N-df+0.5)/(df+0.5) + 1).
    *
    * 100 TB shape: the distinct query-term set is tiny and broadcast,
    * so the postings pass scans the corpus ONCE with the term filter
    * pushed to the scan (a left-semi broadcast join on the exploded
    * tokens) — tf, df, and every later relation are candidate-sized
    * (docs containing a query term), never corpus-sized. Document
    * length and the corpus constants (N, avgdl) come from one
    * separate full-token agg — the stats a production index keeps as
    * metadata. The per-query ranking is a row_number filter that plans
    * WindowGroupLimit (per-partition top-k before the exchange), and
    * there is no global sort anywhere.
    *
    * Cross-engine exactness: tf/df/dl/N are integers; avgdl is ONE
    * division; the score is a fixed per-row expression tree (ln of an
    * integer-derived ratio replays — the n51 convention), and the
    * per-document sum folds term scores in TERM ORDER on both engines,
    * so ranking ties cannot diverge. `queries` is (query_id, qtext).
    */
  def bm25Search(docs: DataFrame, queries: DataFrame, k: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, "k must be positive")
    val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    // full-corpus length stats (the metadata pass): dl per doc, then
    // N and avgdl (one exact division) in a single row
    val dl0 = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    // postings probe: distinct query terms broadcast against the token
    // stream BEFORE any aggregation, so tf/df are candidate-sized
    val qt = queries.select(col("query_id"),
        explode(split(col("qtext"), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    val qterms = qt.select("term").distinct()
    val tf0 = tok.join(broadcast(qterms), Seq("term"), "left_semi")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = dl0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("sumdl"))
      .select(col("nd"),
        (col("sumdl").cast("double") / col("nd")).as("avgdl"))
    val tf = tf0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the top-k is queries x k sized — materialize it, then release
    // the internal persists (the contaminationAgainstIndex convention:
    // repeated searches in a long-lived session must not accumulate
    // cached relations)
    try graft.ops.Iterate.checkpointed(bm25ScoreTail(qt, tf, dl, stats, k, k1, b))
    finally {
      tf.unpersist(blocking = false)
      dl.unpersist(blocking = false)
    }
  }

  /** The BM25 scoring tail shared VERBATIM by [[bm25Search]] (tf/dl
    * recomputed from text) and [[bm25AgainstIndex]] (tf/dl read from
    * the maintained postings state) — one expression tree, so the two
    * paths cannot drift. `tf` is candidate-sized (docs holding a query
    * term); `dl` is the doc-length relation; `stats` one (nd, avgdl)
    * row. df derives from tf HERE (count of candidate docs per term),
    * so both flavors band df identically.
    */
  private def bm25ScoreTail(qt: DataFrame, tf: DataFrame, dl: DataFrame,
                            stats: DataFrame, k: Int, k1: Double,
                            b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfRel = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // constants folded ONCE in Scala and reused verbatim by the oracle
    // generator, so both engines multiply by bit-identical doubles
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    val scored = qt.join(tf, Seq("term"))
      .join(dfRel, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(stats)
      .select(col("query_id"), col("doc_id"), col("term"),
        (log((col("nd").cast("double") - col("df") + lit(0.5)) /
             (col("df") + lit(0.5)) + lit(1.0)) *
         ((col("tf") * lit(k1p1)) /
          (col("tf") + lit(k1) * (lit(oneMinusB) +
            lit(b) * (col("dl") / col("avgdl")))))).as("s"))
    val perDoc = scored.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"),
        aggregate(
          transform(array_sort(collect_list(struct(col("term"), col("s")))),
            x => x("s")),
          lit(0.0), (acc, x) => acc + x).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    perDoc.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("rnk"), col("n_terms"),
        round(col("score"), 6).as("score"))
  }

  /** The maintained RETRIEVAL POSTINGS — full-term (term, doc_id, tf)
    * rows, the serving state behind [[bm25AgainstIndex]] and the
    * text-search member of the index-lifecycle family. Per-DOC rows
    * make the whole lifecycle compositional with operators that
    * already exist:
    *
    *  - append: slice postings are plain `unionByName` rows (disjoint
    *    doc ids — no merging, the per-doc shape guarantees it);
    *  - retract: [[Dedup.retractFromIndex]]'s broadcast anti-join on
    *    doc_id, verbatim — no new machinery;
    *  - df / dl / N / avgdl all DERIVE from the state (df = rows per
    *    term over candidates, dl = [[retrievalDocStats]]), so no
    *    second statistic can fall out of sync with the postings.
    *
    * Laid out `partitionBy(term)`-bucketed in production so a query's
    * term probe prunes to its terms' partitions (the band-index
    * stance). Unlike [[invertedIndex]] (a df-banded EXPLORATION
    * relation), this is the unbanded serving state: every term posts,
    * and the scorer bands nothing — [[bm25Search]] equality is exact.
    */
  def retrievalPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))

  /** Per-doc length stats derived from the postings state (dl = sum of
    * the doc's term frequencies — total tokens). Published beside the
    * postings; retracts through the same doc-keyed anti-join.
    */
  def retrievalDocStats(postings: DataFrame): DataFrame =
    postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))

  /** BM25 over the MAINTAINED index — [[bm25Search]] with tf and dl
    * read from the published state instead of recomputed from text:
    * the query's distinct terms broadcast-semi-join the postings (the
    * partition-prunable probe), df counts the candidate rows per term,
    * and N/avgdl come from one aggregate over the doc-sized stats
    * relation (the metadata pass — never a token-scale scan). The
    * scoring tail is [[bm25ScoreTail]], shared verbatim with the
    * recompute flavor, so maintained-index search EQUALS from-text
    * search bit-for-bit (the spec law) — and after a takedown, a
    * purged doc is not retrievable by text search (TakedownDemo).
    */
  def bm25AgainstIndex(postings: DataFrame, docStats: DataFrame,
                       queries: DataFrame, k: Int = 10,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, "k must be positive")
    val stats = docStats.agg(count(lit(1)).as("nd"), sum(col("dl")).as("sumdl"))
      .select(col("nd"),
        (col("sumdl").cast("double") / col("nd")).as("avgdl"))
    val qt = queries.select(col("query_id"),
        explode(split(col("qtext"), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    val qterms = qt.select("term").distinct()
    val tf = postings.join(broadcast(qterms), Seq("term"), "left_semi")
      .select(col("doc_id"), col("term"), col("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the top-k and release tf before returning (the
    // contaminationAgainstIndex convention)
    try graft.ops.Iterate.checkpointed(
      bm25ScoreTail(qt, tf, docStats.select(col("doc_id"), col("dl")),
        stats, k, k1, b))
    finally tf.unpersist(blocking = false)
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score each document
    * by how much likelier its feature profile is under a TARGET
    * distribution than under the raw corpus —
    * `log w(x) = Σ_f occ_f(x) * (ln p_t(f) - ln p_r(f))` with add-one
    * smoothing, features being char-bigram codes ([[CharBigrams]], the
    * dependency-free stand-in for DSIR's hashed word n-grams — same
    * statistical shape). High weight = looks like the target; sampling
    * proportional to w is importance resampling toward it.
    *
    * 100 TB shape: ONE corpus scan feeds a (doc, bigram) multiplicity
    * agg; target and raw counts collapse out of the SAME relation in
    * one char-vocab²-bounded shuffle (a `sum(when(target))` beside the
    * plain sum — no second pass over the target slice); the smoothing
    * totals are one metadata row. The scoring join brings the bounded
    * counts relation back (AQE broadcast) and the per-document fold
    * runs in BIGRAM-CODE order — the n51 sequential-fold convention —
    * so ln-term addition order is pinned on both engines. All counts
    * are integers; ln of integer-derived values replays; the constant
    * smoothing term factors out of the fold as n_bigrams * const.
    * Persisted counts stay in the session CacheManager — caller-owned
    * lifecycle (Bench clearCache()s between runs).
    */
  def dsirWeights(docs: DataFrame, isTarget: Column): DataFrame = {
    val grams = docs.filter(length(col("text")) >= 2)
      .select(col("doc_id"), isTarget.as("__t"),
        explode(char_bigrams(col("text"))).as("bigram"))
    // persisted: dg feeds BOTH the vocabulary counts below and the
    // scoring join, and Spark has no cross-branch subplan reuse — the
    // unpersisted shape re-ran the corpus scan + per-char bigram
    // explode + (doc, bigram) aggregation once per branch (the
    // dominant cost of this operator; guide §5 — reuse justifies the
    // cache). Same caller-owned lifecycle as `counts`.
    val dg = grams.groupBy("doc_id", "__t", "bigram")
      .agg(count(lit(1)).as("occ"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = dg.groupBy("bigram").agg(
        sum(col("occ")).as("cnt_r"),
        sum(when(col("__t"), col("occ")).otherwise(0L)).as("cnt_t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = counts.agg(sum(col("cnt_r")).as("tot_r"),
      sum(col("cnt_t")).as("tot_t"), count(lit(1)).as("vocab"))
    dg.join(counts, Seq("bigram"))
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_bigrams"),
        aggregate(
          transform(array_sort(collect_list(
              struct(col("bigram"), col("occ"), col("cnt_t"), col("cnt_r")))),
            x => x("occ") * (log(x("cnt_t") + lit(1L)) - log(x("cnt_r") + lit(1L)))),
          lit(0.0), (acc, x) => acc + x).as("sum_ratio"))
      .crossJoin(totals)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_ratio") - col("n_bigrams") *
          (log(col("tot_t") + col("vocab")) - log(col("tot_r") + col("vocab"))),
          6).as("log_weight"))
  }

  // PII patterns — RE2-compatible (no lookaround/backrefs) so the exact
  // same regexes run in Spark (Java regex) and the DuckDB oracle (RE2)
  private[graft] val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val ipPat    = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  private[graft] val idPat    = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private[graft] val phonePat = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII redaction — the scrubbing pass of a training-data pipeline:
    * emails, IPv4 addresses, SSN-style ids, and NANP-style phone numbers
    * replaced by typed placeholders, with per-category counts (taken on
    * the original text) for audit/filtering. Pure column expressions,
    * one scan; replacement chains in a fixed order (email, ip, id,
    * phone) so the id/phone patterns — which share the digit-dash shape
    * — can never double-fire on the same span.
    */
  /** Unicode script mix: per-document counts of Latin / Cyrillic / Han
    * letters plus digits, and the dominant script — the
    * script-detection layer under any language-ID gate (a corpus
    * labeled `en` with a Cyrillic-dominant body is mislabeled or
    * mojibake; CJK text defeats whitespace tokenization, so routing
    * by script comes before every token-based op). One codegen'd
    * regex-count pass per class, no shuffle; the dominant-script CASE
    * breaks ties latin > cyrillic > han > none, spec-pinned.
    */
  def scriptMix(docs: DataFrame): DataFrame = {
    def n(p: String) = size(regexp_extract_all(col("text"), lit(p), lit(0))).cast("long")
    docs.select(col("doc_id"),
        n("""\p{IsLatin}""").as("n_latin"),
        n("""\p{IsCyrillic}""").as("n_cyrillic"),
        n("""\p{IsHan}""").as("n_han"),
        n("[0-9]").as("n_digit"))
      .withColumn("main_script",
        when(col("n_latin") + col("n_cyrillic") + col("n_han") === 0, "none")
          .when(col("n_latin") >= col("n_cyrillic") &&
            col("n_latin") >= col("n_han"), "latin")
          .when(col("n_cyrillic") >= col("n_han"), "cyrillic")
          .otherwise("han"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, "TextRank:
    * Bringing Order into Text"): score corpus vocabulary by damped
    * PageRank over the word co-occurrence graph — nodes are words,
    * edges connect adjacent words (undirected, self-loops dropped),
    * edge weight is the corpus co-occurrence count. The classic
    * unsupervised keyword ranking of a data-curation stack, and the
    * repo's canonical iterative graph-power-method shape (n28's label
    * propagation is the other one).
    *
    * ALL rank arithmetic is integer fixed-point (ranks in units of
    * 1e-12, damping 85/100, truncating division at every step): sums
    * of longs are order-independent where float PageRank would be
    * partition-order-dependent, so the oracle replays the iterations
    * bit-exactly with unrolled CTEs. With d=0.85 scaled by 1e12,
    * `rank * weight` stays under 2^63 for per-pair counts up to ~9e6;
    * at corpus scales beyond that, lower the fixed-point scale (or
    * log-damp weights) before widening — documented, not enforced.
    *
    * 100 TB shape: the corpus-sized work is ONE adjacent-pair
    * explode + groupBy count (the n63 BPE-pair shape); everything
    * after runs on the vocabulary-sized edge relation, which
    * [[Graph.integerPageRank]] checkpoints once and reads in all
    * `iters` rounds (each round is one vocab-bounded shuffle and one
    * probe job — O(iters) shuffles total, never corpus-sized). Both
    * directions of every pair are edges, so no word is dangling and
    * the kernel's dangling term adds exactly 0. The final top-k uses
    * orderBy+limit (TakeOrderedAndProject, a distributed partial
    * top-k) with the row_number window running on the k-bounded
    * relation only — the n55 pattern.
    */
  def textRankKeywords(docs: DataFrame, iters: Int = 3,
                       topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(iters >= 1 && iters <= 8,
      "iters outside [1,8], the oracle's unrolled-CTE bound")
    require(topK > 0, "topK must be positive")
    // empty tokens filtered like every sibling text operator — a
    // doubled space must not mint a high-degree "" graph node
    val ws = docs.select(
        filter(split(col("text"), " "), w => w =!= lit("")).as("ws"))
      .filter(size(col("ws")) >= 2)
    val dirPairs = ws
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> struct(element_at(ws, i) AS a, element_at(ws, i + 1) AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
    val und = dirPairs.unionAll(dirPairs.select(col("b").as("a"), col("a").as("b")))
    val edges = und.groupBy(col("a").as("src"), col("b").as("dst"))
      .agg(count(lit(1)).as("wt"))
    Graph.integerPageRank(edges, iters)
      .select(col("node").as("word"), col("rank"))
      .orderBy(col("rank").desc, col("word")).limit(topK)
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("rank").desc, col("word"))).cast("long"))
  }

  /** PMI collocation mining (Church & Hanks 1990, "Word association
    * norms, mutual information, and lexicography"): rank adjacent
    * word bigrams by pointwise mutual information — the classic
    * phrase-detection pass (Mikolov et al. 2013 build word2vec
    * phrases the same way). PMI = log(c_ab * N / (c_a * c_b)); log is
    * monotone, so ranking needs only the ratio — computed here as the
    * integer-scaled `((c_ab * 1e9) div c_a) * N div c_b` (truncating
    * division, all longs): deterministic and cross-engine exact where
    * a float ratio or log would be ULP-hostage. `minCount` keeps the
    * low-count pairs PMI notoriously over-ranks out of the result.
    * Quantization note: at token counts beyond ~9e9 the 1e9 scale
    * overflows 64-bit — lower the scale (the ranking granularity)
    * before widening; documented, not enforced.
    *
    * 100 TB shape: two corpus scans (unigram count, adjacent-pair
    * count — the n63 BPE-pair shape), both map-side-combinable into
    * vocab-bounded relations; the unigram joins run on the
    * minCount-filtered bigram relation (AQE broadcasts the smaller
    * side), and the final top-k is orderBy+limit —
    * TakeOrderedAndProject, never a global sort.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5,
                      topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minCount >= 1 && topK > 0)
    val uni = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).as("n_tok"))
    val bi = docs.select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> struct(element_at(ws, i) AS a, element_at(ws, i + 1) AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bi.join(uni.select(col("w").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("w").as("b"), col("c").as("c_b")), "b")
      .crossJoin(total)
      .withColumn("pmi_scaled",
        expr("((c_ab * 1000000000) div c_a) * n_tok div c_b"))
      .orderBy(col("pmi_scaled").desc, col("a"), col("b")).limit(topK)
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("pmi_scaled").desc, col("a"), col("b")))
        .cast("long"))
      .select("a", "b", "c_ab", "c_a", "c_b", "pmi_scaled", "rk")
  }

  /** Per-document character entropy — the compression-ratio proxy in
    * the Gopher/C4 quality-filter family: H = ln(n) - (Σ cᵢ·ln cᵢ)/n
    * nats over the doc's character distribution. Near-zero entropy
    * flags degenerate repetition ("aaaa…"), near-ln(alphabet) flags
    * random noise; both tails get filtered before pretraining.
    *
    * 100 TB shape: ZERO shuffle — the character histogram never
    * materializes. Each row's sorted character runs accumulate
    * `run·ln(run)` in ascending character order inside ONE native
    * codegen expression ([[CharEntropyStats]] — the interpreted
    * sort+fold HOF pipeline it replaces was a top-3 bench line); the
    * oracle replays the identical addition sequence by folding
    * per-char counts ORDER BY ch. ln() of an integer is a single
    * IEEE op and the fold order is pinned on both sides, so the
    * doubles match bit-for-bit (the n51 convention, minus n51's
    * corpus-stats shuffle). BMP/ASCII caveat as n51: UTF-16 units,
    * numeric order == the oracle's binary order on the BMP.
    * Empty texts drop (entropy of nothing is undefined).
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_counted"),
        char_entropy_stats(col("text")).as("__st"))
      .select(col("doc_id"), col("n_chars_counted"),
        col("__st.distinct_chars").as("distinct_chars"),
        round(log(col("n_chars_counted")) -
          col("__st.sum_ln") / col("n_chars_counted"), 6).as("entropy_nats"))
  }

  /** Per-group distinctive vocabulary — "what does source X talk about
    * that the corpus doesn't?": rank words within each group by the
    * PMI-style lift (c_ws/N_s)/(c_w/N), the word↔group association
    * behind per-domain corpus profiling (the word↔word twin is
    * [[pmiCollocations]]; same integer-scaled ratio convention, so
    * the ranking replays exactly). `minCount` floors the low-count
    * lift explosion; same 64-bit headroom note as n78.
    *
    * 100 TB shape: ONE corpus scan into the persisted
    * (group, word) count relation (groups × vocab bounded,
    * map-side combinable); the marginals (per-word, per-group,
    * total) all DERIVE from it — the corpus is never rescanned. The
    * per-group top-k rank filter plans as WindowGroupLimit
    * (spec-asserted) over the groups × vocab relation.
    */
  def distinctiveTerms(docs: DataFrame, groupCol: String = "source",
                       minCount: Long = 5, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minCount >= 1 && topK > 0)
    val words = docs
      .select(col(groupCol).as("grp"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    // persisted: groups × vocab bounded by construction; feeds the
    // marginals and the scored join. Caller-owned cache lifecycle.
    val cws = words.groupBy("grp", "w").agg(count(lit(1)).as("c_ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cw = cws.groupBy("w").agg(sum(col("c_ws")).as("c_w"))
    val ns = cws.groupBy("grp").agg(sum(col("c_ws")).as("n_s"))
    val nt = cws.agg(sum(col("c_ws")).as("n_tot"))
    cws.filter(col("c_ws") >= minCount)
      .join(cw, "w").join(ns, "grp").crossJoin(nt)
      .withColumn("score",
        expr("((c_ws * 1000000000) div c_w) * n_tot div n_s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("score").desc, col("w")))
        .cast("long"))
      .filter(col("rk") <= topK)
      .select(col("grp").as(groupCol), col("w").as("word"),
        col("c_ws"), col("c_w"), col("n_s"), col("score"), col("rk"))
  }

  /** HTML → text extraction — the step a crawl pipeline runs BEFORE
    * every text operator in this file (WET-style extraction: strip
    * script/style subtrees, strip tags, decode the basic entities,
    * collapse whitespace) plus the page metadata a curation pass
    * keeps (title, link count). Deliberately regex-based and
    * dependency-free: each step is one codegen `regexp_replace` /
    * `regexp_extract_all` whose pattern parses identically under
    * Java regex and RE2 (inline (?is) flags, lazy quantifiers,
    * character classes — the n75 dialect-parity conventions), so the
    * whole chain replays in the oracle. Entity order matters and is
    * pinned: named/numeric entities decode BEFORE `&amp;`, so
    * `&amp;lt;` yields the literal `&lt;` and never double-decodes.
    * Not a full HTML5 parser (malformed-tag soup degrades to tag
    * stripping) — the standard trade for a screaming-fast one-scan
    * extraction; plain text without tags passes through unchanged.
    *
    * One whole-stage-codegen scan, zero shuffle, stream-composable
    * like every per-row gate here.
    */
  def htmlExtract(docs: DataFrame, htmlCol: String = "text"): DataFrame = {
    val html = col(htmlCol)
    val noScript = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)\\s*>", " ")
    val noTags = regexp_replace(noScript, "<[^>]+>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&") // &amp; LAST
    val decoded = entities.foldLeft(noTags) { case (c, (e, r)) =>
      regexp_replace(c, e, r)
    }
    docs.select(col("doc_id"),
      regexp_extract(html, "(?is)<title[^>]*>(.*?)</title\\s*>", 1).as("title"),
      size(regexp_extract_all(html,
        lit("(?i)href\\s*=\\s*\"([^\"]*)\""), lit(1))).cast("long").as("n_links"),
      trim(regexp_replace(decoded, "\\s+", " ")).as("text_extracted"))
      .withColumn("n_chars_extracted", length(col("text_extracted")).cast("long"))
  }

  /** Outbound links and their domains — the crawl-graph side of
    * [[htmlExtract]]: one row per href with its lowercased registrable
    * host, the relation that feeds domain-level curation (per-domain
    * caps via [[graft.ops.Sampling]], spam-domain filters, domain
    * PageRank via the n76 machinery). Same one-scan regex conventions
    * as htmlExtract; non-http(s) and malformed hrefs yield an empty
    * domain and are dropped.
    */
  def extractLinks(docs: DataFrame, htmlCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        explode(regexp_extract_all(col(htmlCol),
          lit("(?i)href\\s*=\\s*\"([^\"]*)\""), lit(1))).as("url"))
      .withColumn("domain",
        lower(regexp_extract(col("url"), "(?i)^https?://([^/:]+)", 1)))
      .filter(col("domain") =!= "")

  /** Exact phrase search via positional postings — the n41 inverted
    * index extended with positions, which is what turns "docs
    * containing these words" into "docs containing this PHRASE" (the
    * shape benchmark-contamination sweeps need for exact quote
    * detection). Postings are filtered to the phrase's words BEFORE
    * any join — the index access path — so the k-way alignment join
    * runs on a phrase-sized relation, co-keyed on (doc_id, aligned
    * start), never on the corpus. Returns (doc_id, pos) per match
    * (1-based word position of the phrase start).
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty && phrase.forall(w => w.nonEmpty && !w.contains(" ")),
      "phrase must be non-empty whitespace-free words")
    val toks = docs.select(col("doc_id"),
      posexplode(filter(split(col("text"), " "), w => w =!= lit("")))
        .as(Seq("pos", "word")))
    val parts = phrase.zipWithIndex.map { case (w, i) =>
      toks.filter(col("word") === w)
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }
    parts.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
      .select(col("doc_id"), (col("start") + 1).cast("long").as("pos"))
  }

  /** Multi-phrase search in ONE corpus pass — the form a benchmark-
    * contamination sweep actually runs (thousands of quote strings at
    * once, not one [[phraseSearch]] per phrase): the phrase list
    * becomes a broadcast (phrase_id, offset, word, plen) dimension,
    * every token joins it by word, and a match is a (phrase, doc,
    * aligned start) cell where the number of matched offsets equals
    * the phrase length. Corpus tokens are read once regardless of
    * phrase count; the group-by runs on the word-hit relation, which
    * is phrase-selectivity-sized. Returns (phrase_id, doc_id, pos).
    */
  def multiPhraseSearch(docs: DataFrame,
                        phrases: Seq[(String, Seq[String])]): DataFrame = {
    require(phrases.nonEmpty &&
      phrases.forall { case (_, ws) => ws.nonEmpty && ws.forall(w => w.nonEmpty && !w.contains(" ")) },
      "phrases must be non-empty whitespace-free word lists")
    require(phrases.map(_._1).distinct.size == phrases.size, "phrase ids must be unique")
    val spark = docs.sparkSession
    import spark.implicits._
    val parts = phrases.flatMap { case (id, ws) =>
      ws.zipWithIndex.map { case (w, i) => (id, i, w, ws.length) }
    }.toDF("phrase_id", "offset", "word", "plen")
    val toks = docs.select(col("doc_id"),
      posexplode(filter(split(col("text"), " "), w => w =!= lit("")))
        .as(Seq("pos", "word")))
    phraseAlignTail(toks, parts)
  }

  /** The offset-alignment tail shared VERBATIM by [[multiPhraseSearch]]
    * (tokens re-derived from text) and
    * [[multiPhraseSearchAgainstIndex]] (tokens read from the published
    * positional postings) — one expression tree, the two probe flavors
    * cannot drift. `toks` carries 0-based `pos` (the posexplode
    * convention); matches emit 1-based phrase starts.
    */
  private def phraseAlignTail(toks: DataFrame, parts: DataFrame): DataFrame =
    toks.join(broadcast(parts), "word")
      .groupBy(col("phrase_id"), col("doc_id"),
        (col("pos") - col("offset")).as("start"), col("plen"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === col("plen"))
      .select(col("phrase_id"), col("doc_id"),
        (col("start") + 1).cast("long").as("pos"))

  /** The maintained POSITIONAL postings — `(word, doc_id, pos)` with
    * 0-based word positions, the serving state that turns the
    * contamination quote sweep ([[multiPhraseSearch]]) into an index
    * probe: quote lists arrive weekly (new benchmarks, new takedown
    * phrases), and re-tokenizing 100 TB per sweep is the cost this
    * state removes — the corpus tokenizes ONCE at publish. Per-doc
    * rows, so the lifecycle is the postings family's: append = plain
    * union of the slice's rows, retract = [[Dedup.retractFromIndex]]'s
    * doc-keyed anti-join verbatim. Laid out bucketed-by-word in
    * production so a sweep's word probe prunes (the band-index
    * stance); [[retrievalPostings]] (tf only, 3-4x smaller) remains
    * the right state when only ranked retrieval is needed.
    */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), w => w =!= lit("")))
          .as(Seq("pos", "word")))
      .select(col("word"), col("doc_id"), col("pos").cast("long").as("pos"))

  /** [[multiPhraseSearch]] against the PUBLISHED positional postings:
    * the phrase dimension broadcasts against the postings' word column
    * (partition-pruned under the bucketed layout), and the alignment
    * tail is [[phraseAlignTail]] — shared verbatim, so index-probed
    * results equal from-text results row-for-row (spec law), including
    * after a takedown (a purged doc's quotes stop matching — the
    * contamination sweep respects the purge).
    */
  def multiPhraseSearchAgainstIndex(postings: DataFrame,
                                    phrases: Seq[(String, Seq[String])]): DataFrame = {
    require(phrases.nonEmpty &&
      phrases.forall { case (_, ws) => ws.nonEmpty && ws.forall(w => w.nonEmpty && !w.contains(" ")) },
      "phrases must be non-empty whitespace-free word lists")
    require(phrases.map(_._1).distinct.size == phrases.size, "phrase ids must be unique")
    val spark = postings.sparkSession
    import spark.implicits._
    val parts = phrases.flatMap { case (id, ws) =>
      ws.zipWithIndex.map { case (w, i) => (id, i, w, ws.length) }
    }.toDF("phrase_id", "offset", "word", "plen")
    phraseAlignTail(postings.select(col("doc_id"), col("pos"), col("word")),
      parts)
  }

  /** Vocabulary drift between two corpus slices — the distribution-
    * level QA a crawl pipeline runs between snapshot versions (n64's
    * slice diff is doc-level; this is the "did the language change"
    * check). Classes: `new` / `vanished` (presence flips), `up` /
    * `down` (relative frequency moved by more than `factor`×, decided
    * by EXACT integer cross-multiplication — c_new·N_old > factor·
    * c_old·N_new — no float ratio to disagree on), else `stable`.
    * `minCount` keeps one-off words out of the new/vanished classes.
    * One combinable count agg per slice + a full outer join on the
    * word — vocabulary-sized, never corpus-sized.
    */
  def vocabularyDrift(oldDocs: DataFrame, newDocs: DataFrame,
                      factor: Int = 2, minCount: Long = 5L): DataFrame = {
    require(factor >= 1 && minCount >= 1, "factor >= 1, minCount >= 1")
    def counts(d: DataFrame) = d
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("c"))
    val o = counts(oldDocs).select(col("word"), col("c").as("c_old"))
    val n = counts(newDocs).select(col("word"), col("c").as("c_new"))
    val joined = o.join(n, Seq("word"), "full_outer")
      .select(col("word"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"))
    val totals = joined.agg(sum("c_old").as("n_old"), sum("c_new").as("n_new"))
    joined.crossJoin(broadcast(totals))
      .select(col("word"), col("c_old"), col("c_new"),
        when(col("c_old") === 0 && col("c_new") >= minCount, lit("new"))
          .when(col("c_new") === 0 && col("c_old") >= minCount, lit("vanished"))
          .when(col("c_old") === 0 || col("c_new") === 0, lit("rare"))
          .when(col("c_new") * col("n_old") > lit(factor.toLong) * col("c_old") * col("n_new"), lit("up"))
          .when(col("c_old") * col("n_new") > lit(factor.toLong) * col("c_new") * col("n_old"), lit("down"))
          .otherwise(lit("stable")).as("drift"))
  }

  /** Content-defined chunking (the Rabin/FastCDC family, parameter-free
    * form): a position ends a chunk when the rolling-window fingerprint
    * of the last `w` characters satisfies hash % modulus == 0 — so cut
    * points are determined by CONTENT, and an insertion early in a
    * document shifts the text but the downstream boundaries
    * re-synchronize (the property that makes chunk-level dedup robust
    * where fixed-size blocks are not; cf. Muthitacharoen et al. 2001,
    * LBFS). Returns one row per non-empty chunk:
    * (doc_id, chunk_idx, chunk, digest).
    *
    * Pure column expressions over the codegen fnv64 kernel — per-doc
    * work is O(len · w) with no shuffle; documents shorter than `w`
    * become a single whole-document chunk. No min/max chunk-size
    * clamps: they would make each boundary depend on the previous one
    * (a sequential fold), while the bare modulus rule keeps every
    * position independently testable — the distributed-friendly form.
    */
  def cdcChunks(docs: DataFrame, w: Int = 8, modulus: Int = 32): DataFrame = {
    require(w >= 2 && modulus >= 2, "window >= 2 and modulus >= 2")
    val len = length(col("text"))
    // one tight codegen loop per row — the per-position formulation
    // (filter(sequence(..), i -> pmod(fnv64(substr(..)), m) = 0))
    // allocates a substring per char through an interpreted lambda and
    // measured 59 s at sf0.1; cdc_boundaries is value-identical
    val bounds = cdc_boundaries(col("text"), w, modulus)
    val cuts = concat(array(lit(0)), bounds, array(len))
    val chunks = transform(sequence(lit(1), size(cuts) - 1), k =>
      struct(k.cast("long").as("chunk_idx"),
        col("text").substr(element_at(cuts, k) + 1,
          element_at(cuts, k + 1) - element_at(cuts, k)).as("chunk")))
    docs.select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"), col("c.chunk").as("chunk"))
      .filter(length(col("chunk")) > 0)
      .withColumn("digest", fnv64(col("chunk")))
  }

  /** URL canonicalization — the normalization every crawl pipeline
    * runs before URL-level dedup, as ONE codegen column expression
    * chain (no UDF): lowercase scheme and host, strip the scheme's
    * default port (:80 / :443 — non-default ports are meaning-bearing
    * and survive), empty path -> "/", drop the fragment, drop
    * tracking parameters (utm_*, fbclid, gclid), and sort the
    * surviving query parameters so param order cannot split a URL
    * into two identities. Null for anything without a scheme://host.
    * cf. RFC 3986 s6 (syntax-based normalization).
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1))
    val hostPort = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]+)", 1))
    val host = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val rawPath = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)", 1)
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    val rawQuery = regexp_extract(url, "\\?([^#]*)", 1)
    val params = filter(split(rawQuery, "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=&]*|fbclid|gclid)(=|$)"))
    val query = array_join(sort_array(params), "&")
    when(scheme === "" || hostPort === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(query === "", lit("")).otherwise(concat(lit("?"), query))))
  }

  def redactPii(docs: DataFrame): DataFrame = {
    val text = col("text")
    def n(p: String) = size(regexp_extract_all(text, lit(p), lit(0))).cast("long")
    docs
      .withColumn("n_emails", n(emailPat))
      .withColumn("n_ips", n(ipPat))
      .withColumn("n_ids", n(idPat))
      .withColumn("n_phones", n(phonePat))
      .withColumn("text_redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(text, emailPat, "<EMAIL>"),
              ipPat, "<IP>"),
            idPat, "<ID>"),
          phonePat, "<PHONE>"))
  }

  /** Good–Turing count-of-counts re-estimation over the corpus WORD
    * BIGRAM frequencies: r* = (r+1) · N_{r+1} / N_r — the smoothing an
    * n-gram LM applies to unseen-mass estimation (Good 1953), at the
    * granularity where a low-frequency tail actually exists (the
    * synthetic vocabulary is 31 words, so every unigram is frequent,
    * but bigram TYPES are quadratic and the r = 1..4 tail is
    * populated). Emitted in x1e6 fixed point with integer division,
    * NULL where N_{r+1} is absent (the estimate is undefined, not
    * zero). Two combinable aggs; the lead window runs over the
    * FREQUENCY-OF-FREQUENCY relation, whose size is the number of
    * distinct counts — never corpus-sized.
    */
  def goodTuring(docs: DataFrame, maxR: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = docs.select(
      filter(split(trim(col("text")), "\\s+"), w => w =!= "").as("ws"))
      .filter(size(col("ws")) >= 2)
    val bigrams = ws.select(explode(expr(
      "transform(sequence(1, size(ws) - 1), " +
        "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")).as("b"))
    val coc = bigrams.groupBy("b").agg(count(lit(1)).as("c"))
      .groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
    val w = Window.orderBy(col("r"))
    coc
      .withColumn("n_next", lead(col("n_r"), 1).over(w))
      .withColumn("r_next", lead(col("r"), 1).over(w))
      .withColumn("r_star_x1e6",
        when(col("r_next") === col("r") + 1,
          expr("(1000000 * (r + 1) * n_next) div n_r")).otherwise(lit(null)))
      .filter(col("r") <= maxR)
      .select(col("r"), col("n_r"), col("r_star_x1e6"))
  }

  /** Zipf-law fit of the corpus rank–frequency distribution (Zipf
    * 1949): OLS slope of ln(freq) on ln(rank) over the top `topR`
    * word ranks — the one-number corpus-health check (natural text
    * fits slope ≈ −1; synthetic/templated corpora flatten it).
    *
    * Both logs are ROUNDED to x1e3 integers FIRST (absorbing sub-ulp
    * libm differences, the n122 convention — and keeping every
    * normal-equation product under 2^63), so the fit sums are exact
    * integers and slope/intercept are truncating divisions: fully
    * replayable. Corpus-sized work is ONE word-count agg; the ranking
    * window and the fit run on the vocabulary-sized relation (the
    * global window is topR-bounded after the rank filter — metadata-
    * sized at any corpus scale). Returns one row
    * (n_ranks, slope_x1e6, icept_x1e3).
    */
  def zipfFit(docs: DataFrame, topR: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topR >= 3, s"need at least 3 ranks to fit, got $topR")
    val words = docs.select(explode(
      filter(split(trim(col("text")), "\\s+"), w => w =!= "")).as("w"))
    val counts = words.groupBy("w").agg(count(lit(1)).as("c"))
    val ranked = counts
      .withColumn("rank", row_number().over(Window.orderBy(col("c").desc, col("w"))))
      .filter(col("rank") <= topR)
    val t = ranked.select(
      round(log(col("rank").cast("double")) * 1000).cast("long").as("lr"),
      round(log(col("c").cast("double")) * 1000).cast("long").as("lf"))
    t.agg(count(lit(1)).as("n_ranks"), sum(col("lr")).as("sx"),
        sum(col("lr") * col("lr")).as("sxx"), sum(col("lf")).as("sy"),
        sum(col("lr") * col("lf")).as("sxy"))
      .select(col("n_ranks"), col("sx"), col("sy"),
        expr("(1000000 * (n_ranks * sxy - sx * sy)) div (n_ranks * sxx - sx * sx)")
          .as("slope_x1e6"))
      .withColumn("icept_x1e3", expr(
        "(sy - (slope_x1e6 * sx) div 1000000) div n_ranks"))
      .select("n_ranks", "slope_x1e6", "icept_x1e3")
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1998's interpolated form) for every OBSERVED
    * bigram, with the standard discount D = 0.75 kept exact as the
    * rational 3/4:
    *
    *   P(w2|w1) = (c12 - D)/c1  +  D·N1+(w1·)/c1 · N1+(·w2)/N1+(··)
    *
    * Every intermediate is a LONG — counts are scaled by 4 so the
    * discount subtraction stays integral (4·c12 − 3), and the three
    * ratio terms are truncating divisions in x1e9 fixed point with the
    * interpolation product divided back down once. Observed bigrams
    * have c12 ≥ 1, so the max(·,0) clamp never binds and the term
    * structure replays exactly in any engine. Overflow bound:
    * 1e9 · 4 · c12 must stay under 2^63 — fine to c12 ~ 2.3e8 bigram
    * tokens per type; shard the corpus or drop to x1e6 beyond (the
    * integerPageRank Scale convention).
    *
    * Corpus-sized work: ONE bigram explode + counting agg; everything
    * downstream (unigram totals, continuation counts, the type count)
    * aggregates the bigram-TYPE relation, which is vocabulary², not
    * corpus-sized. Joins are keyed by w1/w2; the type count broadcasts.
    */
  def kneserNey(docs: DataFrame): DataFrame = {
    val ws = docs.select(
      filter(split(trim(col("text")), "\\s+"), w => w =!= "").as("ws"))
      .filter(size(col("ws")) >= 2)
    val bigrams = ws.select(explode(expr(
      "transform(sequence(1, size(ws) - 1), " +
        "i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"))
      .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val left = c12.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("nfollow"))
    val right = c12.groupBy("w2").agg(count(lit(1)).as("nprec"))
    val types = c12.agg(count(lit(1)).as("ntypes"))
    c12.join(left, "w1").join(right, "w2").crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c12"),
        expr("(1000000000 * (4 * c12 - 3)) div (4 * c1)").as("t1_x1e9"),
        expr("(3000000000 * nfollow) div (4 * c1)").as("lambda_x1e9"),
        expr("(1000000000 * nprec) div ntypes").as("pcont_x1e9"))
      .withColumn("pkn_x1e9",
        expr("t1_x1e9 + (lambda_x1e9 * pcont_x1e9) div 1000000000"))
  }

  /** Integer Flesch-style readability over `text`: whitespace words
    * (the n03 convention), sentence count = terminator groups
    * `[.!?]+` floored at 1, syllable proxy = lowercase vowel-cluster
    * count (the standard dependency-free estimator), and the Flesch
    * Reading Ease formula in x1000 fixed point with FLOOR division at
    * each of the two ratio terms — every value replays exactly, where
    * the float formula could never hash-match across engines. Score is
    * NULL for word-less docs (a 0 would fake "unreadable").
    */
  def readability(docs: DataFrame): DataFrame = {
    val nWords = tokenCount(col("text"))
    val nSentences = greatest(lit(1L),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
    val nSyllables =
      size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))).cast("long")
    docs.select(col("doc_id"),
        nWords.as("n_words"), nSentences.as("n_sentences"), nSyllables.as("n_syllables"))
      .withColumn("flesch_x1000",
        when(col("n_words") === 0, lit(null).cast("long"))
          .otherwise(lit(206835L) -
            floor(lit(1015L) * col("n_words") / col("n_sentences")).cast("long") -
            floor(lit(84600L) * col("n_syllables") / col("n_words")).cast("long")))
  }

  /** The Gopher quality rules (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * Appendix A1) — the published heuristic gate most later corpora
    * (MassiveText, RefinedWeb, Dolma) start from, as one flag column
    * per rule plus the conjunction:
    *
    *  - `ok_word_count`: 50 <= words <= 100,000
    *  - `ok_mean_word_len`: mean word length in [3, 10] characters
    *  - `ok_hash_ratio`: '#' chars <= 0.1 x words
    *  - `ok_ellipsis_ratio`: ('...' runs + '…' chars) <= 0.1 x words
    *    — the paper gates the hash ratio and the ellipsis ratio
    *    SEPARATELY ("either"), so the two flags are independent: a doc
    *    at 0.06 hash + 0.06 ellipsis passes both, as Gopher does
    *    (summing them into one count, the pre-r10 behavior, failed it)
    *  - `ok_bullet_lines`: <= 90% of lines start with a bullet
    *    ('- ', '* ', or '•')
    *  - `ok_ellipsis_lines`: <= 30% of lines end with '...' or '…'
    *  - `ok_alpha_words`: >= 80% of words contain >= 1 alphabetic char
    *  - `ok_stopwords`: >= 2 distinct hits among {the, be, to, of,
    *    and, that, have, with} (Gopher's required-word list)
    *
    * Every threshold compares in INTEGER cross-multiplied form
    * (`10*symbols <= words`, never a float ratio), so the flags are
    * bit-replayable by any engine. Words are whitespace runs; lines
    * are newline splits; both conventions shared with [[tokenCount]] /
    * [[lineDedup]]. Pure column expressions — one scan, whole-stage
    * codegen, zero shuffle at any corpus size.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val text = col("text")
    val words = filter(split(text, "\\s+"), w => w =!= lit(""))
    val lns = split(text, "\n")
    def occ(ch: String): Column =
      (length(text) - length(regexp_replace(text,
        java.util.regex.Pattern.quote(ch), ""))).cast("long")
    val gopherStop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    docs.select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        aggregate(words, lit(0L), (acc, w) => acc + length(w)).as("n_word_chars"),
        occ("#").as("n_hash"),
        ((occ("...") / 3).cast("long") + occ("…")).as("n_ellipsis"),
        size(lns).cast("long").as("n_lines"),
        size(filter(lns, l => startswith(ltrim(l), lit("- ")) ||
          startswith(ltrim(l), lit("* ")) || startswith(ltrim(l), lit("•"))))
          .cast("long").as("n_bullet_lines"),
        size(filter(lns, l => endswith(rtrim(l), lit("...")) ||
          endswith(rtrim(l), lit("…")))).cast("long").as("n_ellipsis_lines"),
        size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
          .as("n_alpha_words"),
        gopherStop.map(sw =>
          array_contains(transform(words, lower(_)), sw).cast("long"))
          .reduce(_ + _).as("n_stopword_kinds"))
      .withColumn("ok_word_count", col("n_words").between(50L, 100000L))
      .withColumn("ok_mean_word_len",
        lit(3L) * col("n_words") <= col("n_word_chars") &&
          col("n_word_chars") <= lit(10L) * col("n_words"))
      .withColumn("ok_hash_ratio",
        lit(10L) * col("n_hash") <= col("n_words"))
      .withColumn("ok_ellipsis_ratio",
        lit(10L) * col("n_ellipsis") <= col("n_words"))
      .withColumn("ok_bullet_lines",
        lit(10L) * col("n_bullet_lines") <= lit(9L) * col("n_lines"))
      .withColumn("ok_ellipsis_lines",
        lit(10L) * col("n_ellipsis_lines") <= lit(3L) * col("n_lines"))
      .withColumn("ok_alpha_words",
        lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words"))
      .withColumn("ok_stopwords", col("n_stopword_kinds") >= 2L)
      .withColumn("gopher_pass",
        col("ok_word_count") && col("ok_mean_word_len") &&
          col("ok_hash_ratio") && col("ok_ellipsis_ratio") &&
          col("ok_bullet_lines") && col("ok_ellipsis_lines") &&
          col("ok_alpha_words") && col("ok_stopwords"))
  }

  /** The C4 cleaning pass (Raffel et al. 2020, "Exploring the Limits
    * of Transfer Learning with a Unified Text-to-Text Transformer",
    * §2.2) — line filtering plus page gates, returning one row per
    * input document:
    *
    * Line level (a line survives iff ALL hold):
    *  - ends (after right-trim) in terminal punctuation: . ! ? "
    *  - has >= 5 whitespace words
    *  - does not mention 'javascript' (case-insensitive — C4 drops
    *    the line, not the page)
    *
    * Page level (`kept` is false iff ANY holds):
    *  - fewer than 3 sentences, counted as terminal-punctuation
    *    characters in the ORIGINAL text (the deterministic stand-in
    *    for C4's sentence splitter — segmentation beyond terminal
    *    punctuation is out of scope and any monotone sentence counter
    *    slots in here)
    *  - contains a curly brace '{' (code leakage)
    *  - contains 'lorem ipsum' (case-insensitive placeholder text)
    *  - contains any `blocklist` word as a whole lowercase token
    *    (C4 uses the public "bad words" list; the list is the
    *    caller's contract)
    *
    * Output: (doc_id, kept, n_sentences, n_lines_kept, text_clean)
    * with `text_clean` the surviving lines newline-joined in original
    * order (empty when none survive). Dropped pages keep their rows —
    * the caller filters on `kept`, so the audit side (what was
    * dropped and why) stays queryable. One scan + one doc-keyed
    * reassembly agg; the line explode is text-sized, never joined.
    */
  def c4Clean(docs: DataFrame, blocklist: Seq[String] = Nil): DataFrame = {
    val text = col("text")
    val wordsLower = transform(
      filter(split(text, "\\s+"), w => w =!= lit("")), lower(_))
    val blocked =
      if (blocklist.isEmpty) lit(false)
      else blocklist.map(b => array_contains(wordsLower, b.toLowerCase))
        .reduce(_ || _)
    def occ(ch: String): Column =
      (length(text) - length(regexp_replace(text,
        java.util.regex.Pattern.quote(ch), ""))).cast("long")
    val pages = docs.select(col("doc_id"),
      (occ(".") + occ("!") + occ("?")).as("n_sentences"),
      (!(text.contains("{") || lower(text).contains("lorem ipsum") ||
        blocked)).as("page_ok"))
    val lines = docs.select(col("doc_id"),
        posexplode(split(text, "\n")).as(Seq("line_idx", "line")))
      .filter(
        (endswith(rtrim(col("line")), lit(".")) ||
          endswith(rtrim(col("line")), lit("!")) ||
          endswith(rtrim(col("line")), lit("?")) ||
          endswith(rtrim(col("line")), lit("\""))) &&
        size(filter(split(col("line"), "\\s+"), w => w =!= lit(""))) >= 5 &&
        !lower(col("line")).contains("javascript"))
    val kept = lines.groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("line_idx"), col("line")))),
            s => s("line")), "\n").as("text_clean"))
    pages.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("page_ok") && col("n_sentences") >= 3L).as("kept"),
        col("n_sentences"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Keyword-rule weak labeling with majority vote — the data-
    * programming shape (Ratner et al. 2017, Snorkel) a pipeline uses
    * to bootstrap domain/topic tags before any trained classifier
    * exists: each rule `(keyword, label)` FIRES iff its keyword
    * appears as a whole lowercase token, a document's votes per label
    * are its fired-rule counts, and the emitted label is the argmax
    * (ties to the alphabetically-first label — deterministic, the
    * [[langId]] convention), or 'abstain' when nothing fires. The
    * per-label vote columns ride along so a downstream label model
    * can reweight rules without re-scanning text.
    *
    * One codegen scan, zero shuffle at any corpus size: the rule set
    * compiles into per-label `array_contains` sums over the token
    * array — rules are parameters, never a joined relation.
    */
  def keywordVoteLabel(docs: DataFrame, rules: Seq[(String, String)]): DataFrame = {
    require(rules.nonEmpty, "need at least one (keyword, label) rule")
    val words = transform(
      filter(split(col("text"), "\\s+"), w => w =!= lit("")), lower(_))
    val labels = rules.map(_._2).distinct.sorted
    val voteCols = labels.map { lab =>
      val kws = rules.filter(_._2 == lab).map(_._1.toLowerCase).distinct
      kws.map(kw => array_contains(words, kw).cast("long"))
        .reduce(_ + _).as(s"votes_$lab")
    }
    val withVotes = docs.select(col("doc_id") +: voteCols: _*)
    // max over structs = lexicographic (votes, -rank): highest vote
    // count, alphabetically-first label on ties
    val entries = labels.zipWithIndex.map { case (lab, i) =>
      struct(col(s"votes_$lab").as("v"), lit(-i).as("neg_rank"),
        lit(lab).as("lab"))
    }
    // greatest() needs two args — a single-label rule set is its own max
    val best = if (entries.size >= 2) greatest(entries: _*) else entries.head
    withVotes
      .withColumn("n_fired", labels.map(l => col(s"votes_$l")).reduce(_ + _))
      .withColumn("label", when(best.getField("v") === 0L, lit("abstain"))
        .otherwise(best.getField("lab")))
      .withColumn("n_votes", best.getField("v"))
  }

  /** Encoding-damage signals — the mojibake/corruption gate a crawl
    * pipeline runs before any text op trusts the bytes: counts of
    * U+FFFD replacement characters (decoder already gave up), C1
    * control characters U+0080–U+009F (the cp1252-read-as-latin1
    * signature), and U+00C3 'Ã' occurrences (the UTF-8-read-as-latin1
    * signature: every two-byte UTF-8 sequence for Latin letters
    * surfaces as 'Ã' + garbage). `is_suspect` flags any replacement
    * char, any C1 control, or 2+ 'Ã' hits. Pure column expressions —
    * one scan, codegen, no shuffle.
    */
  def encodingDamage(docs: DataFrame): DataFrame = {
    val text = col("text")
    def occurrences(ch: String): Column =
      (length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(ch), ""))).cast("long")
    docs.select(col("doc_id"),
        occurrences("�").as("n_replacement"),
        size(regexp_extract_all(text, lit("[\\x{80}-\\x{9f}]"), lit(0))).cast("long").as("n_c1"),
        occurrences("Ã").as("n_atilde"))
      .withColumn("is_suspect",
        col("n_replacement") > 0 || col("n_c1") > 0 || col("n_atilde") >= 2)
  }
}
