package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed graph ranking in integer fixed point.
  *
  * [[integerPageRank]] is the damped power iteration
  * (Page et al. 1999) with ALL rank arithmetic in 1e-12 fixed point
  * (damping 85/100, truncating division at every step): LONG sums are
  * partition-order-independent where float PageRank never
  * hash-matches, so an oracle replays the iterations bit-exactly as
  * unrolled CTEs. [[integerPageRank]], [[trustRank]] and
  * [[pageRankConverged]] are one kernel, [[dampedRank]]: a teleport
  * set (every node, or the seeds) and a stop rule (fixed `iters`, or
  * `tol`/`maxIter`). Its graph instances in the query surface are the
  * word co-occurrence graph (TextRank keywords, n76), the domain
  * co-citation graph from crawl outlinks (n89), the directed
  * successor-word graph (n136) and its seeded variant (n142) — the
  * point of the factoring is that "rank a graph" is one operator, not
  * a per-use-case rewrite.
  *
  * Every iterative operator here runs its rounds on
  * [[Iterate.toFixpoint]]: a lazy checkpoint per round, filled by the
  * round's one probe job, the superseded round released, and a call
  * holding exactly its materialized result. The round joins are hinted
  * `merge`, so building a round's lazy checkpoint runs no broadcast
  * job (see [[Iterate]]). The `rounds`/`iters` bounds of the
  * fixed-round operators are the oracle's unrolled-CTE bound, not a
  * lineage bound.
  */
object Graph {

  /** Ranks in units of 1e-12; total mass ~SCALE. */
  val Scale = 1000000000000L

  /** Damped PageRank over a weighted directed edge relation
    * `(src, dst, wt)` — to rank an undirected graph, pass both edge
    * directions (as the n76/n89 callers do). Returns `(node, rank)`
    * after exactly `iters` rounds of [[dampedRank]] with a uniform
    * teleport.
    *
    * The node universe is src ∪ dst, and DANGLING nodes (no outbound
    * edges) redistribute their rank mass uniformly each round — the
    * standard correction (Page et al. 1999 §2.6): without it a
    * directed graph leaks mass through every sink and the ranks drift
    * toward zero. On a graph without dangling nodes (every edge given
    * both ways) the dangling sum is 0 and the term adds exactly 0.
    * Nodes with no INBOUND edges keep their teleport rank instead of
    * vanishing. `iters <= 8` is the oracle's unrolled-CTE bound; run
    * deeper with [[pageRankConverged]].
    */
  def integerPageRank(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 8,
      "iters outside [1,8], the oracle's unrolled-CTE bound: " +
        "run deeper with pageRankConverged")
    dampedRank(edges, None, iters, None)
  }

  /** Fixed-round k-core peeling over an undirected graph given as a
    * directed pair relation: each round removes every node whose
    * CURRENT degree is below k, which can cascade (a removal drops a
    * neighbor below the bar next round). Peeling is confluent — the
    * removal order cannot change the fixpoint — so once a round
    * removes nothing the survivors ARE the k-core (Seidman 1983; the
    * spec asserts convergence on its graphs). Returns
    * (node, degree) of the survivors after `rounds` rounds with
    * degrees measured in the peeled subgraph: [[peel]] with
    * `maxIter = rounds`. `rounds <= 6` is the oracle's unrolled-CTE
    * bound; [[kCoreConverged]] peels to the fixpoint at any depth.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1 && rounds <= 6,
      "rounds outside [1,6], the oracle's unrolled-CTE bound: " +
        "peel deeper with kCoreConverged")
    peel(edges, k, rounds)
  }

  /** [[kCore]] run to the TRUE fixpoint — peel until a round removes
    * nothing, or `maxIter` rounds pass — the production shape for a
    * real cluster, where the cascade depth is data-dependent and a
    * fixed `rounds` bound either wastes rounds or stops early. Returns
    * the same (node, degree) relation as a converged [[kCore]] — the
    * spec proves equality beyond kCore's round bound.
    */
  def kCoreConverged(edges: DataFrame, k: Int, maxIter: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    peel(edges, k, maxIter)
  }

  /** The k-core peel behind [[kCore]] and [[kCoreConverged]]: the
    * [[undirected]] edge relation is the [[Iterate.toFixpoint]] state,
    * and a round keeps the edges whose endpoints both have degree >= k
    * (one degree agg, two join prunes hinted `merge`). Convergence
    * witness: the edge count, whose probe fills the round's checkpoint.
    * Peeling only removes edges, so an unchanged count IS the fixpoint
    * and stopping there is exact for the fixed-round contract too.
    * A call costs one job per round plus one (the initial count); the
    * result is a degree agg over the last round's checkpoint.
    */
  private def peel(edges: DataFrame, k: Int, maxIter: Int): DataFrame = {
    val (core, _, _) = Iterate.toFixpoint(undirected(edges), maxIter)(_.count()) { (cur, _) =>
      val keep = cur.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("src").hint("merge")
      cur.join(keep, "src")
        .join(keep.withColumnRenamed("src", "dst"), "dst")
        .select(col("src"), col("dst"))
    }(_ == _)
    core.groupBy("src").agg(count(lit(1)).as("degree"))
      .select(col("src").as("node"), col("degree"))
  }

  /** `edges` as an undirected graph: every unordered pair {u, v} with
    * u ≠ v (self-loops, nulls and duplicate or reverse pairs normalized
    * away), given in both directions as `(src, dst)`.
    */
  private def undirected(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
  }

  /** [[integerPageRank]] run to convergence: the same damped integer
    * update (dangling-mass term included) until the largest per-node
    * rank change of a round is <= `tol` (in 1e-12 rank units) or
    * `maxIter` rounds pass — the production variant of the fixed-`iters`
    * operator, with no lineage bound because every round of
    * [[dampedRank]] is checkpointed. The largest change is read by the
    * round's one probe off the `prev_rank` the rank vector carries, so
    * a round costs the same single job as a fixed round. Returns
    * (node, rank).
    */
  def pageRankConverged(edges: DataFrame, tol: Long = 1000L,
                        maxIter: Int = 100): DataFrame = {
    require(tol >= 0L, "tol must be >= 0")
    require(maxIter >= 1, "maxIter must be >= 1")
    dampedRank(edges, None, maxIter, Some(tol))
  }

  /** Seed-biased PageRank — TrustRank (Gyöngyi, Garcia-Molina &
    * Pedersen 2004) / topic-sensitive PageRank (Haveliwala 2002): the
    * teleport mass lands ONLY on a trusted `seeds` set instead of
    * uniformly, so authority flows outward from vetted nodes and decays
    * with link distance — the standard device for propagating domain
    * trust over a crawl graph (or topic affinity over a term graph)
    * when curating training data. Same 1e-12 integer fixed point and
    * damping 85/100 as [[integerPageRank]] — it is [[dampedRank]] with
    * the seeds as the teleport set — so an oracle replays every round
    * bit-exactly: with d the uniform-on-seeds teleport vector, r0 = d
    * and each round computes
    * `rank' = is_seed * ((15*Scale div 100) div ns)
    *          + (85 * (csum + is_seed * (dsum div ns))) div 100`
    * — dangling mass follows the TELEPORT distribution (the TrustRank
    * convention), i.e. it re-enters at the seeds, not uniformly. With
    * every node a seed this is [[integerPageRank]], bit for bit.
    *
    * `seeds` is a single-column `node` relation and is intersected
    * with the graph's node universe; `ns` is the count of seeds
    * actually present (must be >= 1 — validated by the kernel's
    * up-front probe, which also snapshots `ns`; sound for immutable
    * lake reads, and a seed list is tiny and vetted by definition).
    */
  def trustRank(edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 8,
      "iters outside [1,8], the oracle's unrolled-CTE bound: " +
        "run deeper with pageRankConverged")
    dampedRank(edges, Some(seeds), iters, None)
  }

  /** The damped integer rank kernel behind [[integerPageRank]],
    * [[trustRank]] and [[pageRankConverged]]. `seeds` is the teleport
    * set (None = every node); the stop rule is `maxIter` rounds, or
    * earlier once a round changes no rank by more than `tol`. With
    * `tele` = 1 on teleport nodes (else 0) and `ns` = the number of
    * them, r0 = tele * (Scale div ns), and each round computes
    * `rank' = tele * ((15*Scale div 100) div ns)
    *          + (85 * (csum + tele * (dsum div ns))) div 100`,
    * where `csum` is the node's inbound `(rank * wt) div wdeg` sum and
    * `dsum` the rank mass of the dangling (no-outbound) nodes. With
    * tele = 1 everywhere this is the uniform PageRank update.
    *
    * Evaluation is EAGER at call time and costs one job per round plus
    * two (plus one broadcast job for a small seed set):
    *  - `ed`, the edges with their out-weight `wdeg`, is one lazy
    *    checkpoint hash-partitioned and sorted by `src` (`wdeg` is a
    *    window sum over `src`), read by every round;
    *  - the universe src ∪ dst, tagged `has_out` and `tele`, is one
    *    lazy checkpoint; the up-front probe over it (one job) fills
    *    both and returns `ns`, inlined into every round as a literal;
    *  - every rank vector `(node, has_out, tele, rank, prev_rank)` is a
    *    [[Iterate.toFixpoint]] state: its probe — the dangling sum and
    *    the largest `|rank - prev_rank|`, one job — fills its
    *    checkpoint, the dangling sum enters the next round as a
    *    literal, and the superseded round is released.
    * Snapshotting the scalars is sound because inputs are immutable
    * lake reads; it is also the measured choice: the lazy alternative,
    * a 1-row crossJoin of the dangling sum, nests the previous round's
    * plan twice per round (PLANS.md "n136 dangling A/B").
    *
    * 100 TB shape: the rank vector stays hash-partitioned by `node`
    * and `ed` by `src` (and sorted), so neither sort-merge join of a
    * round shuffles its inputs: the inbound-sum aggregate is the
    * round's one shuffle, plus local sorts of the nodes-bounded sides.
    * The joins are hinted `merge`: a rank vector
    * small enough to broadcast would otherwise cost a broadcast job at
    * every round's checkpoint build.
    * `rank * wt` must stay under 2^63: per-edge weights up to ~9e6 at
    * full scale — lower Scale beyond. Returns `(node, rank)`, a
    * projection of the last round's materialized checkpoint; `ed`, the
    * universe and every earlier round are released on every exit path.
    */
  private def dampedRank(edges: DataFrame, seeds: Option[DataFrame], maxIter: Int,
                         tol: Option[Long]): DataFrame =
    Iterate.withCheckpointed(edges.select(col("src"), col("dst"), col("wt"),
        sum(col("wt")).over(Window.partitionBy("src")).as("wdeg"))) { ed =>
      val tagged = ed.select(col("src").as("node"), lit(1).as("has_out"))
        .unionAll(ed.select(col("dst").as("node"), lit(0).as("has_out")))
        .groupBy("node").agg(max(col("has_out")).as("has_out"))
      val universe = seeds.fold(tagged.withColumn("tele", lit(1L))) { s =>
        tagged.join(s.select(col("node")).distinct().withColumn("tele", lit(1L)),
            Seq("node"), "left")
          .select(col("node"), col("has_out"), coalesce(col("tele"), lit(0L)).as("tele"))
      }
      Iterate.withCheckpointed(universe) { univ =>
        val present = univ.agg(coalesce(sum(col("tele")), lit(0L))).head().getLong(0)
        require(seeds.isEmpty || present >= 1L, "no seed node present in the graph")
        // only an empty graph has no teleport node: no row divides by
        // `ns` then, but a `div 0` literal fails when the plan is folded
        val ns = present max 1L
        val init = univ.withColumn("rank", expr(s"tele * ($Scale div $ns)"))
          .withColumn("prev_rank", col("rank"))
        val (ranks, _, _) = Iterate.toFixpoint(init, maxIter) { cur =>
          val p = cur.agg(
            coalesce(sum(when(col("has_out") === 0, col("rank"))), lit(0L)),
            coalesce(max(abs(col("rank") - col("prev_rank"))), lit(0L))).head()
          (p.getLong(0), p.getLong(1))
        } { case (cur, (dsum, _)) =>
          val csum = ed.join(cur.hint("merge"), col("src") === col("node"))
            .groupBy("dst").agg(sum(expr("(rank * wt) div wdeg")).as("csum"))
          cur.join(csum.hint("merge"), col("node") === col("dst"), "left")
            .select(col("node"), col("has_out"), col("tele"),
              expr(s"tele * ((15 * $Scale div 100) div $ns) + " +
                s"(85 * (coalesce(csum, 0) + tele * ($dsum div $ns))) div 100").as("rank"),
              col("rank").as("prev_rank"))
        } { case (_, (_, delta)) => tol.exists(delta <= _) }
        ranks.select(col("node"), col("rank"))
      }
    }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a weighted
    * directed edge relation `(src, dst, wt)` — the OTHER classic link
    * analysis: where PageRank models a random surfer, HITS splits
    * every node into a HUB score (how well it points at authorities)
    * and an AUTHORITY score (how well hubs point at it). The natural
    * fit in a data pipeline is the crawl outlink graph: pages that
    * link to many high-quality documents (hub = link directory /
    * index page) versus documents many good indexes point at
    * (authority = canonical source) — complementary quality signals
    * PageRank's single score conflates. Returns `(node, hub, auth)`.
    *
    * Integer fixed point, oracle-replayable: per Kleinberg's I/O
    * operations each round computes `araw(v) = Σ_{u→v} hub(u)·wt`
    * then normalizes `auth = araw·Scale div Σ araw`, then
    * `hraw(u) = Σ_{u→v} auth(v)·wt` from the NEW auth vector and
    * normalizes the same way. Normalization is L1 (sum), not
    * Kleinberg's L2: the ranking is invariant to the norm chosen and
    * L1 keeps every step in truncating integer arithmetic (each
    * vector re-sums to ~Scale, minus one unit of floor loss per
    * scored node). The `raw·Scale` product would overflow a long
    * (raw can approach Scale·totalWeight), so that one multiply runs
    * in DECIMAL(38,0) and the integral division lands back in a
    * long — the oracle does the same in HUGEINT and casts. `auth·wt`
    * and the raw sums must stay under 2^63: per-edge weights up to
    * ~9e6 at full scale — lower Scale beyond (the [[integerPageRank]]
    * convention). `iters <= 8` is the oracle's unrolled-CTE bound.
    *
    * Evaluation is EAGER at call time: `2·iters` half-rounds, each an
    * [[Iterate.toFixpoint]] state — the node vector with one side
    * fresh and raw, `(node, hub, araw)` or `(node, auth, hraw)`. A
    * state's probe (one job) sums its raw side, checks that the mass
    * has not vanished, and fills its checkpoint; the next half-round
    * inlines that sum as a literal to normalize the side and compute
    * the other raw side from it — no 1-row crossJoin, which would nest
    * the previous half-round's plan (PLANS.md "n136 dangling A/B").
    * The start is a raw hub of 1 per node: its sum is n, and
    * `(1·Scale) div n` is the uniform `Scale div n`. The last state's
    * sum normalizes the final hub side, so a call costs `2·iters + 1`
    * jobs. 100 TB shape: the edges are one lazy checkpoint, filled by
    * the first probe; a half-round is one edges-bounded join-agg
    * shuffle, both joins hinted `merge`. Returns a projection of the
    * last half-round's checkpoint; the edges and every earlier state
    * are released on every exit path.
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 8,
      "iters outside [1,8], the oracle's unrolled-CTE bound")
    def normalized(raw: String, total: Long): Column =
      expr(s"(CAST(coalesce($raw, 0) AS DECIMAL(38,0)) * $Scale) div $total")
    Iterate.withCheckpointed(edges.select(col("src"), col("dst"), col("wt"))) { ed =>
      val init = ed.select(col("src").as("node")).unionAll(ed.select(col("dst").as("node")))
        .distinct().withColumn("hraw", lit(1L))
      val (last, _, hsum) = Iterate.toFixpoint(init, 2 * iters) { cur =>
        val raw = cur.columns.last
        val s = cur.agg(coalesce(sum(col(raw)), lit(0L))).head().getLong(0)
        require(s > 0L, cur.columns.toSeq match {
          case Seq(_, _) => "edges relation is empty"
          case Seq(_, _, "araw") => "hub mass vanished: graph has no followable edge"
          case _ => "authority mass vanished: graph has no followable edge"
        })
        s
      } { (cur, s) =>
        // a fresh hub side feeds the authorities along src -> dst, a
        // fresh authority side the hubs along dst -> src
        val (side, from, to, raw) =
          if (cur.columns.last == "hraw") ("hub", "src", "dst", "araw")
          else ("auth", "dst", "src", "hraw")
        val vec = cur.select(col("node"), normalized(cur.columns.last, s).as(side))
        val sums = ed.join(vec.hint("merge"), col(from) === col("node"))
          .groupBy(to).agg(sum(col(side) * col("wt")).as(raw))
        vec.join(sums.hint("merge"), col("node") === col(to), "left")
          .select(col("node"), col(side), col(raw))
      }((_, _) => false)
      last.select(col("node"), normalized("hraw", hsum).as("hub"), col("auth"))
    }
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007) over an undirected graph given as a directed pair
    * relation (self-loops / duplicate / reverse pairs normalized
    * away). Every node starts labeled with itself; each round every
    * node adopts the most frequent label among its neighbors' CURRENT
    * labels PLUS its own (the self-vote variant — without it sync LPA
    * two-cycles on bipartite/star structure; with it, ties break to
    * the SMALLEST label and propagation is stable), deterministically
    * replayable where vanilla random-tie LPA is not. Fixed `rounds`
    * is the contract (the n107 kCore fixed-round convention);
    * `rounds <= 6` is the oracle's unrolled-CTE bound. Returns
    * (node, label).
    *
    * The label table is the [[Iterate.toFixpoint]] state (never
    * converged early): each round is one edges-bounded join-agg, the
    * neighbor join hinted `merge`, plus a per-node argmax under
    * WindowGroupLimit — never a neighborhood collection — and its
    * count probe fills the round's checkpoint, so a call costs one job
    * per round plus one. The [[undirected]] edges are one lazy
    * checkpoint read by every round and released before returning;
    * the result is the last round's checkpoint.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 6,
      "rounds outside [1,6], the oracle's unrolled-CTE bound")
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cnt").desc, col("label").asc)
    Iterate.withCheckpointed(undirected(edges)) { sym =>
      val init = sym.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
      val (labels, _, _) = Iterate.toFixpoint(init, rounds)(_.count()) { (cur, _) =>
        sym.join(cur.hint("merge"), sym("dst") === cur("node"))
          .select(sym("src"), col("label"))
          .unionAll(cur.select(col("node").as("src"), col("label")))
          .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("src").as("node"), col("label"))
      }((_, _) => false)
      labels
    }
  }

  /** Per-node triangle counts over an undirected graph given as a
    * directed pair relation `(src, dst)` (self-loops and duplicate /
    * reverse pairs are normalized away). Returns `(node, n_triangles)`
    * for every node in at least one triangle.
    *
    * Uses the degree-orientation trick (Schank & Wagner 2005; the
    * MapReduce form is Suri & Vassilvitskii 2011): orient every edge
    * toward its higher-(degree, id) endpoint, build wedges only at
    * each edge's LOW end, and close them against the oriented edge
    * set. Every triangle is found exactly once, and the wedge
    * relation — the only super-linear intermediate — is bounded by
    * sum(min-degree over edges) = O(m^1.5) instead of the
    * sum-of-degrees-squared a naive neighbor self-join pays (one
    * celebrity node would make that quadratic). Three shuffles total:
    * degree agg, wedge self-join, closing join; nothing is ever
    * keyed by a high-degree node's full neighborhood.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val sym = undirected(edges)
    val und = sym.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
    val low = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    // o: (a, b, bd) with a ≺ b in (degree, id) order; bd = deg(b) rides
    // along so the wedge self-join needs no extra degree lookup
    val o = withDeg.select(
      when(low, col("u")).otherwise(col("v")).as("a"),
      when(low, col("v")).otherwise(col("u")).as("b"),
      when(low, col("dv")).otherwise(col("du")).as("bd"))
    val e2 = o.select(col("a"), col("b").as("c"), col("bd").as("cd"))
    val wedges = o.join(e2, "a")
      .filter(struct(col("bd"), col("b")) < struct(col("cd"), col("c")))
      .select(col("a"), col("b"), col("c"))
    val tris = wedges.join(o.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }
}
