package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed fixed-round k-means in exact integer arithmetic.
  *
  * [[Ivf.build]] trains its coarse quantizer on a driver-side sample
  * (sound there: centroid quality only shifts recall/probe tradeoffs).
  * This kernel is the complement — Lloyd's iteration run AS DATAFRAME
  * JOBS over the whole corpus, for when the clustering itself is the
  * product (SemDeDup-style cluster-then-dedup, corpus cartography,
  * mixture design). Everything is integer-exact over int8 quantized
  * codes, so the rounds replay in an oracle as unrolled CTEs — float
  * k-means could never hash-match across engines.
  */
object Clustering {

  /** Fixed-round Lloyd k-means over int8 embedding codes (Lloyd 1982).
    *
    * Deterministic contract, every step replayable:
    *   - init: centroids = the codes of the `k` smallest `vec_id`s
    *     (k-means++ would need a random stream; seeded-hash init is
    *     possible but buys nothing for a fixed-round contract);
    *   - assign: integer squared-L2 over codes, nearest centroid with
    *     the (dist, cluster) tie-break;
    *   - update: per-dimension `sum div count` (TRUNCATING division,
    *     matching DuckDB's `//`); a cluster that loses every member
    *     keeps its previous centroid instead of vanishing.
    *
    * `rounds` = number of assign+update cycles; the returned
    * assignment is measured against the FINAL centroids. Returns
    * (vec_id, cluster, dist).
    *
    * 100 TB shape: per round, the corpus-sized work is one broadcast
    * of the k×dim centroid table into a scan (the distance argmin
    * runs under WindowGroupLimit keyed by vec_id — no corpus
    * self-join) plus ONE posexplode shuffle keyed (cluster, pos) for
    * the update, whose output is k×dim rows. The distance fold is an
    * interpreted HOF per (row, centroid) — fine while k is small; a
    * codegen L2 kernel (the cosine_similarity precedent) is the
    * production path if k grows. `rounds <= 4` is the oracle's
    * unrolled-CTE bound.
    *
    * Evaluation is EAGER at call time. The quantized codes are one lazy
    * checkpoint, read by every round and by the final assignment. The
    * k-row centroid table is the [[Iterate.toFixpoint]] state (fixed
    * rounds, never converged early); its count probe fills each round's
    * checkpoint and checks that `k` vectors seeded `k` clusters. A
    * round costs that probe plus the deliberate broadcast of the
    * previous centroids, and the final assignment is one more eager
    * checkpoint, so the codes and the last centroids are released
    * before returning and a call holds exactly its result.
    */
  def kMeans(emb: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 2, s"need k >= 2 clusters, got $k")
    require(rounds >= 1 && rounds <= 4,
      "rounds outside [1,4], the oracle's unrolled-CTE bound")
    def dist2(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) => ((x - y) * (x - y)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    Iterate.withCheckpointed(Similarity.scalarQuantize(emb)
        .select(col("vec_id"), col("codes"))) { sq =>
      def assign(cents: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("dist").asc, col("cluster").asc)
        sq.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("codes"), col("cluster"),
            dist2(col("codes"), col("cent")).as("dist"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("codes"), col("cluster"), col("dist"))
      }
      // init really takes the k smallest vec_ids (not "ids < k", which
      // silently under-seeds on non-0-based id spaces); cluster ids are
      // their ranks, so 0-based fixtures keep cluster == vec_id
      val init = sq.orderBy("vec_id").limit(k)
        .withColumn("cluster",
          (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("int"))
        .select(col("cluster"), col("codes").as("cent"))
      val (cents, _, _) = Iterate.toFixpoint(init, rounds) { c =>
        require(c.count() == k, s"need at least $k vectors to seed $k clusters")
      } { (cents, _) =>
        val upd = assign(cents)
          .select(col("cluster"), posexplode(col("codes")).as(Seq("pos", "v")))
          .groupBy("cluster", "pos")
          .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
          .withColumn("cv", expr("s div c").cast("int"))
          .groupBy("cluster")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
            e => e.getField("cv")).as("cent"))
        // a cluster that lost every member keeps its previous centroid;
        // the join is hinted `merge` so that only the centroid broadcast
        // of `assign` costs a job when the round's checkpoint is built
        cents.join(upd.hint("merge"), Seq("cluster"), "left")
          .select(col("cluster"), coalesce(upd("cent"), cents("cent")).as("cent"))
      }((_, _) => false)
      try Iterate.checkpointed(assign(cents).select(col("vec_id"),
          col("cluster").cast("long").as("cluster"), col("dist")))
      finally Iterate.releaseCheckpointed(cents)
    }
  }

  /** Cluster cartography over [[kMeans]]'s assignment: per cluster the
    * member count, the REPRESENTATIVE (member nearest its centroid,
    * ties to the lowest vec_id — the medoid-proxy SemDeDup keeps when
    * a cluster is collapsed), its distance, and the mean squared
    * distance (truncating integer division — a cluster-tightness
    * signal). The representative argmin runs under WindowGroupLimit
    * on the ids-only assignment; nothing here touches an embedding
    * again.
    */
  def clusterProfile(emb: DataFrame, k: Int, rounds: Int): DataFrame = {
    val assigned = kMeans(emb, k, rounds)
    // ONE grouped pass: the representative argmin is min over
    // (dist, vec_id) structs — identical winner to the old
    // row_number-over-(dist asc, vec_id asc) window — computed beside
    // the count/sum stats, so the assignment relation (which nests the
    // whole Lloyd pipeline) is referenced ONCE instead of twice and no
    // window sort or stats-vs-reps join runs (guide §2.3 aggregate
    // before shuffle, §2.4 shared exchange).
    assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        sum(col("dist")).as("sdist"),
        min(struct(col("dist"), col("vec_id"))).as("m"))
      .select(col("cluster"), col("n"), col("m.vec_id").as("rep_id"),
        col("m.dist").as("rep_dist"), expr("sdist div n").as("mean_dist"))
  }
}
