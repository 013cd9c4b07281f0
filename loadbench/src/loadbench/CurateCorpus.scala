package loadbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Profile, Sampling, TextAnalysis}

/** The batch LLM-curation path (CurationDemo's stages): a sequence of
  * equal-size generated shards, each with exact and near duplicates
  * planted at fixed counts, goes through the Gopher gate, exact dedup,
  * minhash near-dup pairs, duplicate clusters, keep-best-per-cluster by
  * bigram cross-entropy, sequence packing and the data card.
  *
  * Every shard has the same shape: `Singles` unique documents, `Exact`
  * verbatim copies of singles, and `Families` near-dup triangles (an
  * original and two near copies editing different words), so the
  * cluster loop runs the same rounds on every shard.
  */
final class CurateCorpus(spark: SparkSession, seed: Long, val iterations: Int,
                         work: Path) extends Workload {
  import CurateCorpus._

  val warmups = 1
  private val inRoot = work.resolve("shards")
  private val outRoot = work.resolve("out")

  /** Ids per shard: singles, exact copies (sources, copies), families. */
  final case class Plan(singles: Seq[Long], exactCopies: Seq[Long],
                        families: Seq[Seq[Long]])
  private var plans: IndexedSeq[Plan] = IndexedSeq.empty

  def setup(): (Long, Long) = {
    val r = new SplittableRandom(seed * 104729L + 3L)
    val langs = Array("en", "de", "fr")
    val rows = Seq.newBuilder[(Int, Long, String, String)]
    plans = (0 until warmups + iterations).map { s =>
      val base = s * 100000L
      val singles = (0 until Singles).map { k => base + k }
      val texts = singles.map(id => id -> Text.doc(r)).toMap
      singles.foreach(id => rows += ((s, id, texts(id), langs(r.nextInt(3)))))
      // exact copies of the first singles get higher ids (lowest id wins)
      val copies = (0 until Exact).map { k =>
        val id = base + 50000L + k
        rows += ((s, id, texts(singles(k)), langs(r.nextInt(3))))
        id
      }
      val families = (0 until Families).map { f =>
        val orig = Text.doc(r)
        val ids = (0 until 3).map(m => base + 70000L + f * 3 + m)
        val members = Seq(orig, Text.nearCopy(orig, 1, r), Text.nearCopy(orig, 2, r))
        ids.zip(members).foreach { case (id, t) => rows += ((s, id, t, langs(r.nextInt(3)))) }
        ids
      }
      Plan(singles, copies, families)
    }
    import spark.implicits._
    val df = rows.result().toDF("shard", "doc_id", "text", "lang")
    df.repartition(col("shard")).write.mode("overwrite").partitionBy("shard")
      .parquet(inRoot.toString)
    (df.count(), FileTree.size(inRoot))
  }

  private def shardPath(i: Int) = inRoot.resolve(s"shard=$i")
  private def curatedPath(i: Int) = outRoot.resolve(s"curated/shard=$i")
  private def packedPath(i: Int) = outRoot.resolve(s"packed/shard=$i")
  def outputsOf(i: Int): Seq[Path] = Seq(curatedPath(i), packedPath(i))

  private val cardDocs = scala.collection.mutable.Map.empty[Int, Double]

  def iteration(i: Int, tr: Tracer): Seq[(String, Long)] = {
    val docs = spark.read.parquet(shardPath(i).toString)
    val flags = tr.df("ops.TextAnalysis.gopherRules")(TextAnalysis.gopherRules(docs))
    val gated = docs.join(flags.filter(col("gopher_pass")).select("doc_id"), Seq("doc_id"))
    val exact = tr.df("ops.Dedup.exactDedup")(Dedup.exactDedup(gated))
    val pairs = tr.df("ops.Dedup.minhashNearDups")(Dedup.minhashNearDups(exact))
    val clusters = tr.df("ops.Dedup.dupClusters")(Dedup.dupClusters(pairs))
    val scores = tr.df("ops.TextAnalysis.bigramCrossEntropy")(TextAnalysis.bigramCrossEntropy(exact))
    val scored = exact.join(scores.select("doc_id", "avg_nll"), Seq("doc_id"))
    val curated = tr.df("ops.Dedup.dedupKeepBest")(
      Dedup.dedupKeepBest(scored, clusters, -col("avg_nll")))
    curated.select("doc_id", "text", "lang").write.mode("overwrite")
      .parquet(curatedPath(i).toString)
    val kept = spark.read.parquet(curatedPath(i).toString)
    val packed = tr.df("ops.Sampling.packSequences")(Sampling.packSequences(kept, 256L, 4))
    packed.write.mode("overwrite").parquet(packedPath(i).toString)
    val card = tr.df("ops.Profile.dataCard")(Profile.dataCard(kept)).collect()
    card.find(r => r.getString(0) == "corpus" && r.getString(1) == "n_docs")
      .foreach(r => cardDocs(i) = r.getDouble(2))
    Seq.empty
  }

  private var checkedUserBytes = 0L
  def userBytes: Long = checkedUserBytes

  def check(): CheckResult = {
    val timed = warmups until warmups + iterations
    val kept = spark.read.parquet(outRoot.resolve("curated").toString)
      .where(col("shard").isin(timed: _*))
      .groupBy("shard")
      .agg(collect_set(col("doc_id")).as("ids"), sum(octet_length(col("text"))).as("bytes"))
      .collect().map(r => r.getInt(0) -> (r.getSeq[Long](1).toSet, r.getLong(2))).toMap
    checkedUserBytes = kept.values.map(_._2).sum
    val want = Singles + Families
    val notes = timed.flatMap { i =>
      val p = plans(i)
      val ids = kept.get(i).map(_._1).getOrElse(Set.empty[Long])
      val bad = Seq(
        Option.when(!p.singles.forall(ids.contains))("a unique document was dropped"),
        Option.when(p.exactCopies.exists(ids.contains))("an exact copy survived"),
        Option.when(!p.families.forall(_.count(ids.contains) == 1))(
          "a near-dup family did not keep exactly one member"),
        Option.when(ids.size != want)(s"${ids.size} documents kept, want $want"),
        Option.when(!cardDocs.get(i).contains(want.toDouble))(
          s"data card n_docs ${cardDocs.get(i)}, want $want")).flatten
      if (bad.isEmpty) None else Some(s"shard $i: ${bad.mkString(", ")}")
    }
    // the near-dup pair set itself, on the first timed shard: exactly
    // the planted triangles (three pairs per family)
    val pairNotes = Seq(timed.head).flatMap { i =>
      val docs = spark.read.parquet(shardPath(i).toString)
      val got = Dedup.minhashNearDups(Dedup.exactDedup(docs))
        .select("doc_id_a", "doc_id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val planted = plans(i).families.flatMap(f =>
        for (a <- f; b <- f if a < b) yield (a, b)).toSet
      spark.catalog.clearCache()
      if (got == planted) None
      else Some(s"shard $i: ${got.size} near-dup pairs, ${(got & planted).size} " +
        s"of the ${planted.size} planted")
    }
    CheckResult((notes ++ pairNotes).size, notes ++ pairNotes)
  }
}

object CurateCorpus {
  val Singles = 160
  val Exact = 10
  val Families = 10
}
