package loadbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Ivf}
import graft.sources.Manifest

/** The incremental maintenance service: crawl slices arrive one at a
  * time against a published corpus with a minhash band index and an
  * IVF index. Each slice is deduped against the published band index,
  * its survivors are indexed and appended, a takedown list exactly as
  * large as the admitted set is retracted from corpus and indexes, and
  * the new snapshot is published. Then a fixed batch of ANN queries
  * runs against the latest snapshot.
  *
  * The takedowns keep corpus and indexes at `CorpusDocs`, so every
  * slice does the same work. Each slice plants `Cross` near copies of
  * live corpus documents and `Within` near copies of its own new
  * documents; the generator simulates the live set, so the admitted
  * set and the final corpus are known exactly.
  */
final class MaintainIndex(spark: SparkSession, seed: Long, val iterations: Int,
                          work: Path) extends Workload {
  import MaintainIndex._
  import spark.implicits._

  val warmups = 1
  private val inRoot = work.resolve("slices")
  private var root: Path = work
  private var passes = 0

  private val texts = mutable.HashMap.empty[Long, String]
  private val embs = mutable.HashMap.empty[Long, Array[Float]]
  private var corpus0: Seq[Long] = Seq.empty
  private var admitted: IndexedSeq[Seq[Long]] = IndexedSeq.empty
  private var takedowns: IndexedSeq[Seq[Long]] = IndexedSeq.empty
  private var finalLive: Set[Long] = Set.empty
  private var centroids: Array[(Int, Array[Float])] = Array.empty
  private var queries: DataFrame = _
  private var queryVecs: Seq[(Long, Array[Float])] = Seq.empty
  private val versions = mutable.HashMap.empty[Int, Long]
  private val admittedCounts = mutable.HashMap.empty[Int, Long]

  private def docRows(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, texts(id), embs(id))).toDF("doc_id", "text", "embedding")

  def setup(): (Long, Long) = {
    val r = new SplittableRandom(seed * 15485863L + 5L)
    def add(id: Long, text: String): Unit = {
      texts(id) = text
      embs(id) = Text.embedding(r, Dim)
    }
    corpus0 = (0L until CorpusDocs.toLong).map { id => add(id, Text.doc(r)); id }
    val live = mutable.ArrayBuffer.from(corpus0)
    def sample(n: Int): Seq[Long] = { // n distinct live ids
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < n) picked += live(r.nextInt(live.size))
      picked.toSeq
    }
    val sliceRows = mutable.ArrayBuffer.empty[(Int, Long)]
    val plans = (0 until warmups + iterations).map { s =>
      val base = 1000000L + s * 1000L
      val fresh = (0 until NewPerSlice).map { k => add(base + k, Text.doc(r)); base + k }
      val cross = sample(Cross).zipWithIndex.map { case (src, k) =>
        add(base + 500 + k, Text.nearCopy(texts(src), 1, r)); base + 500 + k
      }
      val within = (0 until Within).map { k =>
        add(base + 800 + k, Text.nearCopy(texts(fresh(k)), 1, r)); base + 800 + k
      }
      (fresh ++ cross ++ within).foreach(id => sliceRows += ((s, id)))
      val down = sample(NewPerSlice)
      live --= down
      live ++= fresh
      (fresh, down)
    }
    admitted = plans.map(_._1)
    takedowns = plans.map(_._2)
    finalLive = live.toSet
    val slices = sliceRows.toSeq.map { case (s, id) => (s, id, texts(id), embs(id)) }
      .toDF("slice", "doc_id", "text", "embedding")
    slices.repartition(col("slice")).write.mode("overwrite").partitionBy("slice")
      .parquet(inRoot.toString)
    val qr = new SplittableRandom(seed * 31L + 17L)
    queryVecs = (1 to Queries).map(q => (-q.toLong, Text.embedding(qr, Dim)))
    queries = queryVecs.toDF("vec_id", "embedding")
    // centroid quality only moves partial-probe recall, so a short fit
    val index = Ivf.build(docRows(corpus0).select(col("doc_id").as("vec_id"), col("embedding")),
      nLists = NLists, seed = seed, maxIter = 4, nRows = CorpusDocs)
    centroids = index.centroids
    (sliceRows.size.toLong + CorpusDocs, FileTree.size(inRoot))
  }

  /** Publish the initial corpus and indexes under a fresh root. */
  override def reset(): Unit = {
    passes += 1
    root = work.resolve(s"index-$passes")
    val docs = docRows(corpus0)
    Manifest.publish(root.toString, Map(
      "corpus" -> Manifest.Family(docs),
      "bands" -> Manifest.Family(Dedup.minhashBandIndex(docs)),
      "ivf" -> Manifest.Family(Ivf.assignFrozen(
        docs.select(col("doc_id").as("vec_id"), col("embedding")), centroids))))
    versions.clear()
  }

  def outputsOf(i: Int): Seq[Path] = versions.get(i).map(v => root.resolve(s"v=$v")).toSeq

  def iteration(i: Int, tr: Tracer): Seq[(String, Long)] = {
    val t0 = System.nanoTime()
    val at = root.toString
    def read(name: String) = tr.df("sources.Manifest.read")(Manifest.read(spark, at, name))
    val bands = read("bands")
    val corpus = read("corpus")
    val slice = spark.read.parquet(inRoot.resolve(s"slice=$i").toString)
    val survivors = tr.df("ops.Dedup.incrementalMinhashDedup")(
      Dedup.incrementalMinhashDedup(bands, corpus, slice))
    admittedCounts(i) = survivors.count()
    val down = takedowns(i).toDF("doc_id")
    val bandsNew = tr.df("ops.Dedup.retractFromIndex")(Dedup.retractFromIndex(bands, down))
      .unionByName(tr.df("ops.Dedup.minhashBandIndex")(Dedup.minhashBandIndex(survivors)))
    val corpusNew = tr.df("ops.Dedup.retractFromIndex")(Dedup.retractFromIndex(corpus, down))
      .unionByName(survivors.select("doc_id", "text", "embedding"))
    val ivfKept = tr.df("ops.Dedup.retractFromIndex")(
      Dedup.retractFromIndex(read("ivf"), down.select(col("doc_id").as("vec_id")), "vec_id"))
    val ivfNew = tr.span("ops.Ivf.append")(Ivf.append(Ivf.Index(ivfKept, centroids),
      survivors.select(col("doc_id").as("vec_id"), col("embedding"))))(
      ix => ix.copy(assigned = tr.materialize(ix.assigned)))
    versions(i) = tr.run("sources.Manifest.publish")(Manifest.publish(at, Map(
      "corpus" -> Manifest.Family(corpusNew),
      "bands" -> Manifest.Family(bandsNew),
      "ivf" -> Manifest.Family(ivfNew.assigned))))
    val t1 = System.nanoTime()
    tr.df("ops.Ivf.search")(
      Ivf.search(Ivf.Index(read("ivf"), centroids), queries, TopK, NProbe)).collect()
    Seq("publish" -> (t1 - t0), "search" -> (System.nanoTime() - t1))
  }

  private var checkedUserBytes = 0L
  def userBytes: Long = checkedUserBytes

  def check(): CheckResult = {
    val timed = warmups until warmups + iterations
    checkedUserBytes = timed.flatMap(admitted).map(id =>
      texts(id).getBytes("UTF-8").length.toLong + 4L * Dim).sum
    val at = root.toString
    val notes = mutable.ArrayBuffer.empty[String]
    var failed = 0
    timed.foreach { i =>
      if (!admittedCounts.get(i).contains(admitted(i).size.toLong)) {
        notes += s"slice $i admitted ${admittedCounts.get(i)}, want ${admitted(i).size}"
        failed += 1
      }
    }
    val corpus = Manifest.read(spark, at, "corpus")
    val ids = corpus.select("doc_id").as[Long].collect().toSet
    // retraction == rebuild: the maintained band index has exactly the
    // rows of the band index built from the surviving corpus
    val bands = Manifest.read(spark, at, "bands").select("doc_id", "band", "bucket")
    val rebuilt = Dedup.minhashBandIndex(corpus).select("doc_id", "band", "bucket")
    val drift = bands.exceptAll(rebuilt).count() + rebuilt.exceptAll(bands).count()
    if (ids != finalLive || drift != 0) {
      notes += s"final corpus: ${(ids -- finalLive).size} unexpected and " +
        s"${(finalLive -- ids).size} missing documents; band index differs from " +
        s"a rebuild in $drift rows"
      failed = iterations
    }
    // full-probe search over the final snapshot equals brute-force cosine
    val vecs = corpus.select("doc_id", "embedding").as[(Long, Array[Float])].collect()
    val sample = queryVecs.take(3)
    val got = Ivf.search(Ivf.Index(Manifest.read(spark, at, "ivf"), centroids),
        sample.toDF("vec_id", "embedding"), TopK, NLists)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, hs) => q -> hs.map(_._2).toSet }
    sample.foreach { case (q, qv) =>
      val want = vecs.map { case (id, v) => (cosine(qv, v), id) }
        .sortBy { case (c, id) => (-c, id) }.take(TopK).map(_._2).toSet
      if (!got.get(q).contains(want)) {
        notes += s"query $q: search top-$TopK differs from brute force"
        failed += 1
      }
    }
    CheckResult(math.min(failed, iterations), notes.toSeq)
  }
}

object MaintainIndex {
  val CorpusDocs = 1000
  val NewPerSlice = 32
  val Cross = 6
  val Within = 2
  val Dim = 16
  val NLists = 8
  val NProbe = 2
  val TopK = 10
  val Queries = 8

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { k =>
      dot += a(k).toDouble * b(k); na += a(k).toDouble * a(k); nb += b(k).toDouble * b(k)
    }
    dot / math.sqrt(na * nb)
  }
}
