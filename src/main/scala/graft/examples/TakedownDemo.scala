package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Ivf, Multimodal, Profile, TextAnalysis}
import graft.sources.Tables

/** End-to-end TAKEDOWN demo — the purge path a production corpus runs
  * weekly (DMCA, license revocation, PII erasure), composed from the
  * engine's retraction operators across every published index family,
  * then proved safe by running the next crawl slice against the purged
  * state:
  *
  *   1. publish  — corpus + refcounted digests ([[Dedup.digestCounts]])
  *                 + minhash band index ([[Dedup.minhashBandIndex]],
  *                 written partitionBy(band)) + bloom sidecar
  *                 ([[Dedup.indexBloom]]) + sign-LSH bucket index over
  *                 the embeddings ([[Dedup.signBucketIndex]]) + the ANN
  *                 serving indexes ([[Ivf.build]] / [[Ivf.buildPq]]) +
  *                 the image dHash Hamming index
  *                 ([[Dedup.hammingBandIndex]]) + the exact-substring
  *                 gram index ([[TextAnalysis.exactSubstrGramIndex]]) +
  *                 the duplicate-cluster assignment
  *                 ([[Dedup.dupClusters]], with its retained edge
  *                 relation) + the mergeable data-card state
  *                 ([[Profile.cardState]]) + the BM25 text-search
  *                 serving state ([[TextAnalysis.retrievalPostings]] +
  *                 doc stats) + the char-bigram quality-model state
  *                 ([[TextAnalysis.bigramLmState]]) — all ELEVEN
  *                 maintained families a production corpus serves;
  *   2. purge    — drop the payload rows, retract the digests with
  *                 refcount semantics ([[Dedup.retractFromDigestCounts]]
  *                 — a text another live doc holds keeps suppressing),
  *                 retract both band indexes ([[Dedup.retractFromIndex]]),
  *                 retract BOTH ANN indexes ([[Ivf.retract]] /
  *                 [[Ivf.retractPq]] — before r12 a purged document's
  *                 EMBEDDING stayed searchable here), retract the
  *                 Hamming index (the same [[Dedup.retractFromIndex]])
  *                 and the gram index
  *                 ([[TextAnalysis.retractFromGramIndex]] — count
  *                 decrement, the refcount algebra), retract the
  *                 cluster assignment ([[Dedup.retractFromClusters]] —
  *                 the one NON-local retraction: bridges split, so the
  *                 affected components re-close over their retained
  *                 edges), subtract the card state
  *                 ([[Profile.retractCardState]]), and REBUILD
  *                 the bloom sidecar from the retracted index — blooms
  *                 cannot delete, so the sidecar refresh rides the
  *                 retraction rewrite (it is one aggregate over the
  *                 rows being rewritten anyway);
  *   3. re-crawl — the next slice dedups against the purged state:
  *                 near-dups and exact copies of PURGED docs are
  *                 ADMITTED (nothing may cite a purged doc), dups of
  *                 surviving docs still drop, within-slice dups still
  *                 drop — each through the same incremental operators
  *                 the driver gate hash-matches (n49/n150/n152/n154/
  *                 n157/n159) — and an ANN probe AT the purged vector
  *                 returns only survivors (n160/n161's law, live).
  *
  * The spec asserts the maintained state equals a from-scratch rebuild
  * on corpus-minus-removed at every step (the lifecycle laws), and
  * that the demo is deterministic across runs.
  *
  * Run: sbt "runMain graft.examples.TakedownDemo /root/testdata/sf0.001 /tmp/takedown_demo"
  */
object TakedownDemo {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/takedown_demo")
    val spark = graft.LocalSession(4)
    val summary = run(spark, sfDir, outDir)
    println(s"\ntakedown summary ($sfDir -> $outDir):")
    summary.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  $k%-26s $v") }
    spark.stop()
  }

  /** The purge as one function (spec-driven too). Returns stage counts;
    * publishes THREE manifest versions under `outDir` (the pre-purge
    * state as v=N, the purged state as v=N+1 — one atomic pointer
    * swap between them — and the admitted re-crawl slice as an
    * O(slice) DELTA at v=N+2: corpus + band index appended, card
    * state rewritten, everything else carried forward by reference),
    * band/sign/hamming indexes partitionBy(band) and IVF by list_id
    * (the spec-proven pruning layouts), the bloom sidecar versioned
    * beside the index it summarizes.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String): Map[String, Long] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    // ---- 1. the published state ------------------------------------
    val corpus = Tables(spark, sfDir, "documents").filter(col("doc_id") < 250)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").filter(col("vec_id") < 250)
    val nCorpus = corpus.count()
    // checkpoint the published relations once: each is an input to BOTH
    // the v=1 publish and the retraction feeding v=2
    import graft.ops.Iterate.checkpointed
    val digests = checkpointed(Dedup.digestCounts(corpus))
    val bandIndex = checkpointed(Dedup.minhashBandIndex(corpus, k = 5,
      numHashes = 64, bands = 16))
    val signIndex = checkpointed(Dedup.signBucketIndex(emb, planes = 12,
      tables = 4))
    val nEmb = emb.count()
    val ivfIndex = Ivf.build(emb, nLists = 8, nRows = nEmb)
    val pqIndex = Ivf.buildPq(ivfIndex, m = 16, codebookSize = 32,
      nRows = nEmb)
    // the image modality (dHash Hamming index) and the exact-substring
    // gram index ride the same publish — with r12's additions (incl.
    // clusters, card state, BM25 postings, and the LM quality model
    // below), all ELEVEN maintained families are in the purge path
    val imgHashes = checkpointed(
      Multimodal.dhashRelation(Multimodal.bmpPixelMedia(corpus))
        .select(col("media_id").as("doc_id"), col("dhash").as("sh")))
    val hammingIndex = checkpointed(
      Dedup.hammingBandIndex(imgHashes, maxDistance = 2))
    val gramIndex = checkpointed(
      TextAnalysis.exactSubstrGramIndex(corpus, n = 8))
    // the duplicate-cluster assignment (with its retained edge
    // relation — splits are only decidable from edges) and the
    // mergeable data-card state
    val nearPairs = checkpointed(Dedup.simhashNearDups(corpus, maxDistance = 6)
      .select("doc_id_a", "doc_id_b"))
    val clusters = Dedup.dupClusters(nearPairs)
    val cardState = checkpointed(Profile.cardState(corpus))
    // the TENTH family: text-search serving state (BM25 postings +
    // doc stats — per-doc rows, so takedown is the same doc-keyed
    // anti-join as every other index)
    val postings = checkpointed(TextAnalysis.retrievalPostings(corpus))
    val docStatsRel = TextAnalysis.retrievalDocStats(postings)
    // the ELEVENTH family: the quality model itself (char-bigram LM
    // counts — the n159 count algebra, so the purge reaches the model:
    // machine unlearning for the perplexity gate)
    val lmState = checkpointed(TextAnalysis.bigramLmState(corpus))

    // ---- 2. the takedown request: docs 1 and 2, vectors 1 and 2 -----
    // (docs chosen without NATURAL near-dup partners at this SF — the
    // synthetic corpus plants near-dup families, and a purged doc whose
    // family survives is correctly still suppressed by its live kin;
    // the demo isolates the purge effect itself)
    val removedIds = Seq(1L, 2L)
    val removedDocs = corpus.filter(col("doc_id").isin(removedIds: _*))
    val removed = removedDocs.select("doc_id")
    val corpusAfter = corpus.join(removed, Seq("doc_id"), "left_anti")
    val embAfter = emb.filter(!col("vec_id").isin(removedIds: _*))
    val digestsAfter = Dedup.retractFromDigestCounts(digests, removedDocs)
    val bandAfter = Dedup.retractFromIndex(bandIndex, removed)
    val signAfter = Dedup.retractFromIndex(signIndex, removed)
    val ivfAfter = Ivf.retract(ivfIndex, removed.select(
      col("doc_id").as("vec_id")))
    val pqAfter = Ivf.retractPq(pqIndex, removed.select(
      col("doc_id").as("vec_id")))
    val hammingAfter = Dedup.retractFromIndex(hammingIndex, removed)
    // gram counts DECREMENT by the removed docs' gram multiset (min is
    // not invertible, so `first` may go stale — harmless by the spec'd
    // inertness law; counts are what admission rides on)
    val gramAfter = TextAnalysis.retractFromGramIndex(gramIndex,
      removedDocs, n = 8)
    // clusters: the one NON-local retraction — a removed doc may be a
    // bridge, so the affected components re-close over their surviving
    // edges (component-local; untouched clusters pass through)
    val clustersAfter = Dedup.retractFromClusters(clusters, nearPairs, removed)
    // text search: the same doc-keyed anti-join (column order
    // re-normalized — the join fronts its key)
    val postingsAfter = Dedup.retractFromIndex(postings, removed)
      .select("term", "doc_id", "tf")
    val docStatsAfter = Dedup.retractFromIndex(docStatsRel, removed)
      .select("doc_id", "dl")
    // the quality model unlearns the purged docs' statistics
    val lmAfter = TextAnalysis.retractBigramLmState(lmState, removedDocs)
    // card state: pure count subtraction (the n159 algebra)
    val cardAfter = Profile.retractCardState(cardState, removedDocs)
    // the sidecar is rebuilt, not edited: blooms cannot delete
    val bloomAfter = Dedup.indexBloom(bandAfter)

    // the purged state publishes as ONE ATOMIC VERSION SWAP
    // ([[graft.sources.Manifest]]): all nine families + the corpus +
    // the retained edge relation land under v=2, then the pointer
    // rename makes them visible TOGETHER — a reader mid-purge sees the
    // pre-purge v=1 in full, never a mix where the text is gone but a
    // band row still cites it (or vice versa). v=1 stays readable for
    // time travel / slow-reader grace until a vacuum.
    import spark.implicits._
    import graft.sources.Manifest
    import graft.sources.Manifest.Family
    val centroidsDf = ivfAfter.centroids.toSeq.toDF("list_id", "centroid")
      .coalesce(1)
    // the edge-retention contract: the pair relation versions BESIDE
    // the assignment (candidate-sized) — the next takedown needs it;
    // retraction is the shared anti-join applied to each endpoint
    val pairsAfter = Dedup.retractFromIndex(
        Dedup.retractFromIndex(nearPairs,
          removed.withColumnRenamed("doc_id", "doc_id_a"), idCol = "doc_id_a"),
        removed.withColumnRenamed("doc_id", "doc_id_b"), idCol = "doc_id_b")
      .select("doc_id_a", "doc_id_b")
    val v1 = Manifest.publish(outDir, Map(
      "corpus" -> Family(corpus),
      "digests" -> Family(digests),
      "band_index" -> Family(bandIndex, partitionBy = Seq("band")),
      "sign_index" -> Family(signIndex, partitionBy = Seq("band")),
      "ivf_assigned" -> Family(ivfIndex.assigned, partitionBy = Seq("list_id")),
      "pq_encoded" -> Family(pqIndex.encoded),
      "hamming_index" -> Family(hammingIndex, partitionBy = Seq("band")),
      "gram_index" -> Family(gramIndex),
      "near_pairs" -> Family(nearPairs),
      "clusters" -> Family(clusters),
      "card_state" -> Family(cardState),
      "ivf_centroids" -> Family(centroidsDf),
      "postings" -> Family(postings),
      "doc_stats" -> Family(docStatsRel),
      "lm_state" -> Family(lmState)),
      blobs = Map("band_index.bloom" -> Dedup.indexBloom(bandIndex)))
    // DELTA PUBLISH (r13): v2 carries only the families the purge
    // CHANGED — ivf_centroids are frozen across retraction (the whole
    // point of frozen-centroid maintenance), so they are NOT passed
    // and their snapshot entry carries forward to v=1's directory
    // with zero bytes written; every read still resolves them
    val v2 = Manifest.publish(outDir, Map(
      "corpus" -> Family(corpusAfter),
      "digests" -> Family(digestsAfter),
      "band_index" -> Family(bandAfter, partitionBy = Seq("band")),
      "sign_index" -> Family(signAfter, partitionBy = Seq("band")),
      // the ANN serving state: assigned rows laid out by list (the
      // partition-pruning layout), codes beside them; the frozen
      // centroids ride v=1 by reference — enough for the spec
      // to replay the frozen rebuild from disk
      "ivf_assigned" -> Family(ivfAfter.assigned, partitionBy = Seq("list_id")),
      "pq_encoded" -> Family(pqAfter.encoded),
      "hamming_index" -> Family(hammingAfter, partitionBy = Seq("band")),
      "gram_index" -> Family(gramAfter),
      "near_pairs" -> Family(pairsAfter),
      "clusters" -> Family(clustersAfter),
      "card_state" -> Family(cardAfter),
      "postings" -> Family(postingsAfter),
      "doc_stats" -> Family(docStatsAfter),
      "lm_state" -> Family(lmAfter)),
      // the sidecar versions WITH the index it summarizes — a bloom
      // outliving its index is exactly the skew the manifest prevents
      blobs = Map("band_index.bloom" -> bloomAfter))
    // re-running over an existing outDir keeps versioning upward; the
    // purge is always exactly one version ahead of its publish
    require(v2 == v1 + 1, s"unexpected versions $v1/$v2")

    // ---- 3. the next crawl slice against the purged state -----------
    // planted rows: an exact copy and a near-dup of PURGED doc 1 (both
    // must be ADMITTED), a near-dup of surviving doc 4 (must drop), a
    // within-slice dup pair (higher id must drop)
    val slice = corpus.filter(col("doc_id").isin(1L, 4L))
      .withColumn("doc_id", col("doc_id") + 3000000L)
      .withColumn("text", concat(col("text"), lit(" tail bit")))
      .unionAll(corpus.filter(col("doc_id") === 1L)
        .withColumn("doc_id", col("doc_id") + 3100000L))
      .unionAll(corpus.filter(col("doc_id") === 1L)
        .withColumn("doc_id", col("doc_id") + 3100001L))
    // every read resolves through the manifest pointer (= v2 here):
    // the slice dedups against the purged state AND its matching
    // sidecar — the pair that versioned together
    val bandRead = Manifest.read(spark, outDir, "band_index")
      .select("doc_id", "band", "bucket")
    val exactAdmitted = Dedup.incrementalDedupByDigests(
      Manifest.read(spark, outDir, "digests").select("__digest"), slice)
    val nearAdmitted = Dedup.incrementalMinhashDedup(bandRead,
      Manifest.read(spark, outDir, "corpus"), exactAdmitted,
      k = 5, numHashes = 64, bands = 16, threshold = 0.5,
      bloom = Some(Manifest.readBlob(outDir, "band_index.bloom")))
    val nNear = nearAdmitted.count()

    // embeddings ride the same flow: a scaled copy of purged vec 1 is
    // admitted, of surviving vec 4 drops
    val eSlice = emb.filter(col("vec_id").isin(1L, 4L))
      .select((col("vec_id") + 3000000L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.000001f)).cast("float"))
          .as("embedding"))
    val eAdmitted = Dedup.incrementalEmbeddingDedup(
      Manifest.read(spark, outDir, "sign_index")
        .select("doc_id", "band", "bucket"),
      embAfter, eSlice, threshold = 0.95, planes = 12, tables = 4)

    // the ANN half of the purge proof: probe BOTH serving indexes AT
    // (a scaled copy of) the purged vector — the strongest query for
    // leaking it — at full probe; a removed id in either result set
    // means the purge did not happen (n160/n161's law, live). The PQ
    // rerank fetch-back reads the SURVIVOR corpus — the corpus-side
    // contract
    val annProbe = eSlice.filter(col("vec_id") === 3000001L)
    val nIvfLeaked = Ivf.search(ivfAfter, annProbe, 5, nProbe = 8)
      .filter(col("vec_id").isin(removedIds: _*)).count()
    val nPqLeaked = Ivf.searchPq(pqAfter, embAfter, annProbe, 5,
        nProbe = 8, rerank = 100)
      .filter(col("vec_id").isin(removedIds: _*)).count()

    // the image re-crawl: purged doc 1's image is still suppressed by
    // its SURVIVING dHash-group kin (the fixture plants doc_id/4
    // families — near-dup families outlive one member's purge, exactly
    // as the text demo's comment says); a planted far fingerprint is
    // genuinely new and admits
    val imgHashesAfter = imgHashes.join(removed, Seq("doc_id"), "left_anti")
    val imgSlice = imgHashes.filter(col("doc_id") === 1L)
      .select((col("doc_id") + 3200000L).as("doc_id"), col("sh"))
      .unionAll(Seq((3200002L, 0x5A5AC3C30F0FA5A5L)).toDF("doc_id", "sh"))
    val imgAdmitted = Dedup.incrementalHammingDedup(
      Manifest.read(spark, outDir, "hamming_index")
        .select("doc_id", "band", "bucket"),
      imgHashesAfter, imgSlice, maxDistance = 2)

    // the exact-substring re-crawl: a copy of PURGED doc 1's text keeps
    // every token (its grams freed — nothing may cite a purged doc); a
    // copy of SURVIVING doc 4's text is fully excised and disappears
    val substrSlice = corpus.filter(col("doc_id") === 1L)
      .select((col("doc_id") + 3300000L).as("doc_id"), col("text"))
      .unionAll(corpus.filter(col("doc_id") === 4L)
        .select((col("doc_id") + 3300000L).as("doc_id"), col("text")))
    val substrOut = TextAnalysis.incrementalExactSubstrDedup(
      Manifest.read(spark, outDir, "gram_index"), substrSlice, n = 8)

    // the cluster re-crawl: fold the slice's own linkage into the
    // retracted assignment — surviving doc 4 gains its near-copy, the
    // within-slice exact pair forms a fresh cluster; the maintained
    // assignment must equal the batch closure over surviving ∪ slice
    // pairs (the spec replays that law from the disk state)
    val slicePairs = Seq((4L, 3000004L), (3100001L, 3100002L))
      .toDF("doc_id_a", "doc_id_b")
    val clustersFinal = Dedup.incrementalDupClusters(
      Manifest.read(spark, outDir, "clusters"), slicePairs)

    // the card re-crawl: the admitted near-dup slice merges in; the
    // maintained card equals the from-scratch card of the grown corpus
    val cardFinal = Profile.mergeCardStates(
      Manifest.read(spark, outDir, "card_state"),
      Profile.cardState(nearAdmitted))

    // the text-search half of the purge proof: query the purged
    // state with the PURGED DOC'S OWN TEXT — the strongest query for
    // leaking it through BM25 — and count removed ids in the top-k
    val searchQ = removedDocs.filter(col("doc_id") === 1L)
      .select(lit(1L).as("query_id"), col("text").as("qtext"))
    val nBm25Leaked = TextAnalysis.bm25AgainstIndex(
        Manifest.read(spark, outDir, "postings"),
        Manifest.read(spark, outDir, "doc_stats"), searchQ, k = 10)
      .filter(col("doc_id").isin(removedIds: _*)).count()

    // ---- 4. the slice lands as an O(slice) DELTA publish (r13) ------
    // the admitted docs APPEND to the corpus and band index as delta
    // segments (slice-sized writes — readers union them with the base),
    // the metadata-sized card state rewrites, and the other TWELVE
    // entries carry forward by reference with zero bytes written: the
    // weekly ingest cycle stops re-materializing the corpus
    val admitted = checkpointed(nearAdmitted)
    val sliceBands = checkpointed(Dedup.minhashBandIndex(admitted, k = 5,
      numHashes = 64, bands = 16))
    // the bloom sidecar must cover the delta too (a bloom that
    // under-covers its index re-admits near-dups of just-appended
    // docs): the refresh is one aggregate over the index rows —
    // compute-linear but WRITE-O(KB), so the publish stays O(slice)
    // on bytes, which is what delta publish buys
    val v3 = Manifest.publish(outDir, Map(
      "corpus" -> Family(admitted, append = true),
      "band_index" -> Family(sliceBands, partitionBy = Seq("band"),
        append = true),
      "card_state" -> Family(cardFinal)),
      blobs = Map("band_index.bloom" ->
        Dedup.indexBloom(bandAfter.unionByName(sliceBands))))
    require(v3 == v2 + 1, s"unexpected version $v3")

    Map(
      "n_corpus_v3" -> Manifest.read(spark, outDir, "corpus").count(),
      "n_postings_after" -> postingsAfter.count(),
      "n_bm25_leaked" -> nBm25Leaked,
      "n_lm_rows_after" -> lmAfter.count(),
      "n_cluster_rows_after" -> clustersAfter.count(),
      "n_cluster_rows_final" -> clustersFinal.count(),
      "n_card_rows_after" -> cardAfter.count(),
      "n_card_rows_final" -> cardFinal.count(),
      "n_corpus" -> nCorpus,
      "n_removed" -> removed.count(),
      "n_corpus_after" -> corpusAfter.count(),
      "n_digests_after" -> digestsAfter.count(),
      "n_band_rows_after" -> bandAfter.count(),
      "n_slice" -> slice.count(),
      "n_exact_admitted" -> exactAdmitted.count(),
      "n_near_admitted" -> nNear,
      "n_emb_slice" -> eSlice.count(),
      "n_emb_admitted" -> eAdmitted.count(),
      "n_ivf_rows_after" -> ivfAfter.assigned.count(),
      "n_pq_rows_after" -> pqAfter.encoded.count(),
      "n_ivf_leaked" -> nIvfLeaked,
      "n_pq_leaked" -> nPqLeaked,
      "n_img_slice" -> imgSlice.count(),
      "n_img_admitted" -> imgAdmitted.count(),
      "n_substr_slice" -> substrSlice.count(),
      "n_substr_out_rows" -> substrOut.count(),
      "n_substr_full_kept" -> substrOut
        .filter(col("n_tokens_kept") === col("n_tokens")).count())
  }
}
