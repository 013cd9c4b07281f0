package graft.ops

import org.apache.spark.sql.DataFrame
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
      "iters outside [1,8]: deeper power iterations need checkpointing " +
        "(see pageRankConverged) before the lineage is safe")
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
    * degrees measured in the peeled subgraph.
    *
    * Rounds are join-filtered degree aggs over an edges-bounded
    * relation; `rounds <= 6` is the same lineage bound as the n76
    * power iteration — deeper peeling runs to the fixpoint in
    * [[kCoreConverged]].
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1 && rounds <= 6,
      "rounds outside [1,6]: deeper peeling needs checkpointing")
    val und = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    var cur = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
    for (_ <- 1 to rounds) {
      // each round references `cur` three times (degree agg + both join
      // prunes), so an un-truncated plan grows 3^rounds references to
      // the edge build — ReusedExchange collapses the EXECUTION, but
      // analysis/codegen/task binaries still carry the exponential tree
      // (r13 profile: 10 MiB task binaries, wall 3.7x the task time,
      // all driver). A LAZY per-round checkpoint truncates the lineage
      // to a round-sized plan — the chain materializes inside the
      // caller's one action, and the per-round persisted blocks make
      // each round's recompute O(1) (guide §7.2: plan size is a
      // first-class cost). Building each checkpoint runs the round's
      // broadcasts (the `keep` side of both joins on small graphs), so
      // the rounds cost those broadcast jobs at call time
      // ([[Iterate.lazyCheckpointed]]).
      val keep = cur.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("src")
      cur = graft.ops.Iterate.lazyCheckpointed(
        cur.join(keep, "src")
          .join(keep.withColumnRenamed("src", "dst"), "dst")
          .select(col("src"), col("dst")))
    }
    cur.groupBy("src").agg(count(lit(1)).as("degree"))
      .select(col("src").as("node"), col("degree"))
  }

  /** [[kCore]] run to the TRUE fixpoint — peel until a round removes
    * nothing — on [[Iterate.toFixpoint]]: a lazy checkpoint per round,
    * filled by the round's count probe, so the lineage stays O(1) at
    * any peel depth: the production shape
    * for a real cluster, where the cascade depth is data-dependent
    * and a fixed `rounds` bound either wastes rounds or stops early.
    * Convergence witness: the peeled edge count, which strictly
    * decreases until the fixpoint (peeling only removes). Returns the
    * same (node, degree) relation as a converged [[kCore]] — the spec
    * proves equality beyond kCore's round bound.
    */
  def kCoreConverged(edges: DataFrame, k: Int, maxIter: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val und = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val init = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
    val (core, _) = Iterate.toFixpoint(init, maxIter)(_.count()) { (cur, _) =>
      val keep = cur.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("src")
      cur.join(keep, "src")
        .join(keep.withColumnRenamed("src", "dst"), "dst")
        .select(col("src"), col("dst"))
    }(_ == _)
    core.groupBy("src").agg(count(lit(1)).as("degree"))
      .select(col("src").as("node"), col("degree"))
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
      "iters outside [1,8]: deeper power iterations need checkpointing " +
        "(see pageRankConverged) before the lineage is safe")
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
    * every round's checkpoint build ([[Iterate.lazyCheckpointed]]).
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
        val (ranks, _) = Iterate.toFixpoint(init, maxIter) { cur =>
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
    * convention).
    *
    * Evaluation semantics: EAGER AT CALL TIME — each round pays two
    * scalar normalization probes (asum, hsum), each doubling as the
    * cache fill of its RAW join-agg relation (the raw relation, not
    * the derived vector, is what persists: it is the round's dominant
    * edges-bounded cost and has two consumers — its probe and the next
    * half-round's join — while the vector is a cheap nodes-bounded
    * derivation; caching the vector instead re-ran every join-agg
    * twice, and the A/B normalized against the co-measured n142 put
    * the vector-cached shape ~30% slower — PLANS.md "n143 raw-cache
    * A/B"). Rolling release keeps at
    * most one round's raw pair cached. This is the [[integerPageRank]]
    * dangling-path shape, chosen on its MEASURED A/B: the lazy 1-row
    * crossJoin alternative doubles the analyzed plan every half-round
    * (PLANS.md "n136 dangling A/B") and HITS has TWO such scalars per
    * round. The result is checkpointed ([[Iterate.checkpointed]]) and
    * every internal cache released — O(1) lineage, no leaked persisted
    * state. 100 TB shape: edges persisted once; each half-round is one
    * edges-bounded join-agg shuffle plus a nodes-bounded scalar agg.
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 8,
      "iters outside [1,8]: deeper power iterations need per-round " +
        "checkpointing before the lineage is safe")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ed = edges.persist(lvl)
    val nodes = ed.select(col("src").as("node"))
      .unionAll(ed.select(col("dst").as("node")))
      .distinct().persist(lvl)
    // raw-pair rolling cache hoisted above the try so the failure
    // handler can release it: the mass-vanished requires and every
    // normalization probe can throw mid-loop with ed/nodes/the raw
    // pair persisted (the r9 ADVICE leak)
    var prevRound: List[DataFrame] = Nil
    try {
    val n: Long = nodes.count()
    require(n >= 1, "edges relation is empty")
    var hubs = nodes.select(col("node"), lit(Scale / n).as("hub"))
    var auths: DataFrame = hubs.select(col("node"), lit(0L).as("auth"))
    // the RAW join-agg relations are what gets cached, not the derived
    // vectors: each half-round's edges-bounded join-agg is the dominant
    // cost and has TWO consumers (its normalization probe and the next
    // half-round's join) — caching the vector instead would recompute
    // the join-agg once per consumer (measured ~2x the round price).
    // The scalar probe doubles as the cache fill (the n136 shape);
    // rolling release keeps at most the two live raw relations.
    // liveness: round r's araw probe is the LAST evaluation that reads
    // round r-1's lineage (hubs_{r-1} = f(hraw_{r-1}), and araw_{r-1}
    // only feeds the auths that round r reassigns), so both prior raw
    // caches release right after it; round r's own pair must survive
    // the loop when r == iters (the final checkpoint re-evaluates
    // auths = f(araw) and hubs = f(hraw))
    for (_ <- 1 to iters) {
      val araw = ed.join(hubs, ed("src") === hubs("node"))
        .select(col("dst"), expr("hub * wt").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("araw"))
        .persist(lvl)
      prevRound = araw :: prevRound
      val asum: Long = araw.agg(coalesce(sum(col("araw")), lit(0L)))
        .head().getLong(0)
      require(asum > 0, "hub mass vanished: graph has no followable edge")
      // rolling release: the current round's araw is fully probed, so
      // the previous round's raw pair (everything in the list but the
      // head) is dead
      prevRound.tail.foreach(_.unpersist())
      prevRound = List(prevRound.head)
      auths = nodes.join(araw, nodes("node") === araw("dst"), "left")
        .select(nodes("node"),
          expr(s"(CAST(coalesce(araw, 0) AS DECIMAL(38,0)) * $Scale) div $asum")
            .as("auth"))
      val hraw = ed.join(auths, ed("dst") === auths("node"))
        .select(col("src"), expr("auth * wt").as("c"))
        .groupBy("src").agg(sum(col("c")).as("hraw"))
        .persist(lvl)
      prevRound = hraw :: prevRound
      val hsum: Long = hraw.agg(coalesce(sum(col("hraw")), lit(0L)))
        .head().getLong(0)
      require(hsum > 0, "authority mass vanished: graph has no followable edge")
      hubs = nodes.join(hraw, nodes("node") === hraw("src"), "left")
        .select(nodes("node"),
          expr(s"(CAST(coalesce(hraw, 0) AS DECIMAL(38,0)) * $Scale) div $hsum")
            .as("hub"))
    }
    val out = Iterate.checkpointed(
      hubs.join(auths.withColumnsRenamed(Map("node" -> "anode")),
          hubs("node") === col("anode"))
        .select(col("node"), col("hub"), col("auth")))
    prevRound.foreach(_.unpersist())
    nodes.unpersist()
    ed.unpersist()
    out
    } catch { case t: Throwable =>
      // no leaked persisted state on ANY exit path: prevRound tracks
      // every currently-persisted raw relation (the current round's
      // entries are pushed BEFORE their probes run), so a mid-loop
      // failure releases exactly what is live
      prevRound.foreach(_.unpersist())
      nodes.unpersist()
      ed.unpersist()
      throw t
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
    * is still the contract (the n107 kCore fixed-round convention).
    * Returns (node, label).
    *
    * Each round is one edges-bounded join-agg plus a per-node argmax
    * under WindowGroupLimit — never a neighborhood collection; the
    * symmetrized edge relation is the round's only corpus-scale input,
    * built once by the caller's lineage. `rounds <= 6` is the same
    * lineage bound as [[kCore]].
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 6,
      "rounds outside [1,6]: deeper propagation needs checkpointing")
    val und = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val sym = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cnt").desc, col("label").asc)
    for (_ <- 1 to rounds) {
      // each round references `labels` twice (neighbor join + self-vote
      // union), so an un-truncated plan carries ~2^rounds references to
      // the symmetrized edge build — the kCore disease in miniature,
      // bounded only by rounds <= 6. A LAZY per-round checkpoint
      // truncates the lineage to a round-sized plan: the chain
      // materializes inside the caller's one action (guide §7.2 — plan
      // size is a first-class cost), except that building each
      // checkpoint runs the round's broadcast (the `labels` side of the
      // neighbor join on small graphs) at call time
      // ([[Iterate.lazyCheckpointed]]).
      val votes = sym.join(labels, sym("dst") === labels("node"))
        .select(sym("src"), col("label"))
        .unionAll(labels.select(col("node").as("src"), col("label")))
      labels = graft.ops.Iterate.lazyCheckpointed(votes
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("label")))
    }
    labels
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
    val und = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val deg = und.select(col("u").as("node")).unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
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
