package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Profile, Sampling, TextAnalysis}
import graft.sources.Tables

/** End-to-end training-data curation demo — the LLM-pipeline twin of
  * [[GsshaDemo]]: one runnable main chaining the engine's curation
  * operators over the driver's documents table the way a pre-training
  * pipeline stages them (gate → dedup → quality rank → pack → card):
  *
  *   1. structural quality gate — [[TextAnalysis.gopherRules]]
  *      (Rae et al. 2021 App. A1)
  *   2. language tag            — [[TextAnalysis.langId]]
  *   3. exact dedup             — [[Dedup.exactDedup]] (md5 digests,
  *      lowest id wins)
  *   4. near-dup dedup          — [[Dedup.minhashDedup]] (word-gram
  *      minhash LSH)
  *   5. quality ranking         — [[TextAnalysis.bigramCrossEntropy]]
  *      (the CCNet perplexity-gate shape), keep the best 90%
  *   6. packing                 — [[Sampling.packSequences]] into
  *      256-token training rows across 4 shards
  *   7. data card               — [[Profile.dataCard]]
  *
  * Every stage is the REAL operator the driver gate hash-matches
  * (n144, n05, n01, n31, n51/n57, n42, n71). The synthetic corpus is
  * single-line ASCII word soup, so the Gopher stopword rule (which
  * needs English function words beyond 'the') and the line-shape rules
  * are REPORTED but the gate enforces the four structural rules that
  * discriminate here (word count, mean word length, symbol ratio,
  * alpha fraction) — the demo prints both counts so the choice is
  * visible, and the full conjunction is one `gopher_pass` filter away
  * on a real corpus.
  *
  * Run: sbt "runMain graft.examples.CurationDemo /root/testdata/sf0.001 /tmp/curation_demo"
  */
object CurationDemo {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/curation_demo")
    val spark = graft.LocalSession(4)
    val summary = run(spark, sfDir, outDir)
    println(s"\ncuration summary ($sfDir -> $outDir):")
    summary.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  $k%-22s $v") }
    spark.stop()
  }

  /** The pipeline as one function (spec-driven too). Returns the stage
    * counts; writes curated docs, packed sequences, and the data card
    * under `outDir`.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String): Map[String, Long] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val raw = Tables(spark, sfDir, "documents")
    val nRaw = raw.count()

    // ---- 1. structural Gopher gate + the reported-only rules --------
    val flags = TextAnalysis.gopherRules(raw)
    val nFullPass = flags.filter(col("gopher_pass")).count()
    val gated = raw.join(
      flags.filter(col("ok_word_count") && col("ok_mean_word_len") &&
          col("ok_hash_ratio") && col("ok_ellipsis_ratio") &&
          col("ok_alpha_words"))
        .select("doc_id"),
      Seq("doc_id"))
    val nGated = gated.count()

    // ---- 2. language tag rides along --------------------------------
    val tagged = gated.withColumn("lang_id", TextAnalysis.langId(col("text")))

    // ---- 3/4. the dedup ladder: exact, then near-dup ----------------
    val exact = Dedup.exactDedup(tagged)
    val nExact = exact.count()
    val deduped = Dedup.minhashDedup(exact, k = 5, numHashes = 64,
      bands = 16, threshold = 0.8, wordGrams = true)
    val nDeduped = deduped.count()

    // ---- 5. bigram cross-entropy gate: keep the best 90% ------------
    val scored = TextAnalysis.bigramCrossEntropy(deduped)
    val thr = scored.agg(expr("percentile(avg_nll, 0.9)").as("thr"))
    val kept = deduped.join(
      scored.crossJoin(thr).filter(col("avg_nll") <= col("thr"))
        .select("doc_id"),
      Seq("doc_id"))
    val nKept = kept.count()
    kept.write.mode("overwrite").parquet(s"$outDir/curated.parquet")

    // ---- 6. pack into fixed 256-token training sequences ------------
    val packed = Sampling.packSequences(kept, budget = 256L, shards = 4)
    packed.write.mode("overwrite").parquet(s"$outDir/packed.parquet")
    val packStats = packed.agg(count(lit(1)).as("rows"),
      sum(col("n_tokens")).as("toks")).head()
    // sequence indices are PER SHARD (that is the operator's whole
    // scale trick) — the corpus total sums each shard's count
    val nSeqs = packed.groupBy("shard")
      .agg((max(col("seq_last")) + 1).as("m"))
      .agg(coalesce(sum(col("m")), lit(0L))).head().getLong(0)

    // ---- 7. data card over the curated corpus -----------------------
    val card = Profile.dataCard(kept)
    card.write.mode("overwrite").parquet(s"$outDir/data_card.parquet")
    val nCardRows = card.count()

    Map(
      "n_raw" -> nRaw,
      "n_gopher_full_pass" -> nFullPass,
      "n_structural_gated" -> nGated,
      "n_exact_deduped" -> nExact,
      "n_neardup_deduped" -> nDeduped,
      "n_quality_kept" -> nKept,
      "n_packed_docs" -> packStats.getLong(0),
      "n_packed_tokens" -> packStats.getLong(1),
      "n_sequences" -> nSeqs,
      "n_card_rows" -> nCardRows)
  }
}
