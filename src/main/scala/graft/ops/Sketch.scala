package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.GraftFunctions._

/** Sketch-based approximate aggregation — the profiling pass you run
  * before committing to an exact plan at 100 TB (how many distinct
  * URLs / users / documents, within a few percent, in one scan).
  *
  * Unlike `approx_count_distinct` (whose HLL++ register layout is
  * engine-private and therefore unverifiable cross-engine), this HLL
  * is built from deterministic, engine-neutral pieces so a SQL oracle
  * replays the WHOLE sketch bit for bit: FNV-1a-64 + fmix64 value hash
  * (the same folds the minhash/simhash oracles already replay in
  * HUGEINT), register = low `p` hash bits, rank = trailing-zero count
  * of the remaining bits + 1. Trailing zeros instead of the paper's leading
  * zeros — the same geometric distribution over an ideal hash, but
  * computable in pure integer arithmetic both engines share:
  * `bit_count((w & -w) - 1) + 1` (no float log2 whose rounding could
  * disagree). The register sum is likewise kept exact: each register
  * contributes the INTEGER 2^(maxRank - M_j), summed as decimal —
  * order-independent, so the estimate is identical under any
  * partitioning. The only float ops are one final division, the
  * alpha_m formula, and ln() on the linear-counting branch — each a
  * single IEEE expression written identically in the oracle.
  *
  * Estimator: Flajolet/Fusy/Gandouet/Meunier 2007 (alpha_m bias
  * correction + linear counting below 2.5m).
  *
  * Shape at scale: one scan for all sketched columns (explode to
  * (column, value) pairs), a map-side-combinable max per register
  * (shuffle carries at most `columns * 2^p * partitions` rows), and a
  * `columns`-row final agg. The exact distinct count is joined
  * alongside for the audit; at 100 TB you drop that branch and keep
  * the sketch.
  */
object Sketch {

  /** Saturating upper bin edge shared by every quantile bracket
    * ([[bisectQuantiles]] and the streaming histogram): `binLo + w - 1`
    * wraps past Long.MaxValue when `hi` sits within one bin width of
    * it — a range the `hi - lo < 2^63 - bins` guard permits — and a
    * wrapped negative edge breaks containment where a plain min()
    * would keep the wrap. `hi - (w - 1)` cannot underflow: with
    * bins >= 2, w - 1 <= (hi - lo) / 2.
    */
  private[graft] def saturatedHi(binLo: Long, w: Long, hi: Long): Long =
    if (binLo > hi - (w - 1L)) hi else binLo + w - 1L

  def hllDistinct(df: DataFrame, cols: Seq[String], p: Int = 8): DataFrame = {
    val pairs = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*)).as("cv"))
      .select(col("cv.col_name").as("col_name"), col("cv.v").as("v"))
      .filter(col("v").isNotNull)
    hllOverPairs(pairs, p)
  }

  /** Group-wise HLL: distinct `valueCol` per `groupCol` in one scan —
    * the per-group twin of [[hllDistinct]] (e.g. distinct vocabulary
    * per source). Same register pipeline keyed by the group instead of
    * the column name; identical scale shape (the register shuffle is
    * `groups * 2^p`-bounded regardless of corpus size).
    */
  def hllDistinctByGroup(df: DataFrame, groupCol: String, valueCol: String,
                         p: Int = 8): DataFrame =
    hllOverPairs(
      df.select(col(groupCol).cast("string").as("col_name"),
          col(valueCol).cast("string").as("v"))
        .filter(col("v").isNotNull),
      p).withColumnRenamed("col_name", groupCol)

  /** (col_name, reg, mj) max-rank registers for a (col_name, v) pair
    * relation — the combinable heart of the HLL pipeline, shared by the
    * per-key estimates and the register-level set algebra (union = the
    * elementwise max this relation already carries).
    */
  private def hllRegisters(pairs: DataFrame, p: Int): DataFrame = {
    val m = 1 << p
    val maxRank = 64 - p + 1
    pairs
      .withColumn("w", fnv_mix64(col("v")))
      .withColumn("reg", col("w").bitwiseAND(lit((m - 1).toLong)))
      .withColumn("rest", shiftrightunsigned(col("w"), p))
      .withColumn("rank",
        when(col("rest") === 0, lit(maxRank))
          .otherwise(bit_count(col("rest").bitwiseAND(lit(0L) - col("rest")) - 1) + 1))
      .groupBy("col_name", "reg").agg(max("rank").as("mj"))
  }

  /** Estimate from a register relation, keyed by `keys`: the standard
    * alpha_m bias correction with linear counting below 2.5m. Every
    * float step is a single fused expression the oracle writes
    * identically (the register sum itself is exact decimal).
    */
  private def hllEstimateFromRegs(regs: DataFrame, keys: Seq[String],
                                  p: Int): DataFrame = {
    val m = 1 << p
    val maxRank = 64 - p + 1
    // one fused literal per constant: the oracle writes the SAME
    // formula, and IEEE evaluation order makes the doubles identical
    val alpha = 0.7213 / (1.0 + 1.079 / m.toDouble)
    val pow2MaxRank = math.pow(2.0, maxRank) // power of two: exact
    val rawNumer = alpha * (m.toDouble * m.toDouble) * pow2MaxRank
    // exact integer register sum: 2^(maxRank - mj) <= 2^(maxRank-1) is a
    // power of two (exact in double), cast to decimal before the sum
    regs.groupBy(keys.map(col): _*).agg(
        count(lit(1)).as("nonzero"),
        sum(pow(lit(2.0), lit(maxRank) - col("mj")).cast("decimal(20,0)")).as("s"))
      .withColumn("empty", lit(m.toLong) - col("nonzero"))
      // N = 2^maxRank * Z where Z = sum 2^-Mj over ALL m registers
      .withColumn("bigN", col("s") +
        col("empty").cast("decimal(20,0)") * lit(pow2MaxRank).cast("decimal(20,0)"))
      .withColumn("e_raw", lit(rawNumer) / col("bigN").cast("double"))
      .withColumn("hll_estimate", round(
        when(col("e_raw") <= lit(2.5 * m) && col("empty") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("empty").cast("double")))
          .otherwise(col("e_raw")), 2))
  }

  /** Per-group registers as a PUBLISHABLE relation — the sketch-state
    * twin of the corpus snapshot's digest relation: each crawl slice
    * writes its `(group, reg, mj)` rows (groups × 2^p bounded), and
    * the corpus-wide distinct count updates by MERGING register
    * relations ([[hllEstimateFromRegisterRelation]]) — the corpus is
    * never rescanned. Merge is the elementwise max, which is
    * associative/commutative/idempotent, so slice boundaries, arrival
    * order, and re-delivery all cannot change the estimate (the
    * spec-asserted law: merged slices == whole-corpus, bit-exact).
    */
  def hllRegistersByGroup(df: DataFrame, groupCol: String, valueCol: String,
                          p: Int = 8): DataFrame = {
    require(p >= 7 && p <= 16, s"p=$p outside the alpha_m>=128 regime")
    hllRegisters(
      df.select(col(groupCol).cast("string").as("col_name"),
          col(valueCol).cast("string").as("v"))
        .filter(col("v").isNotNull), p)
      .withColumnRenamed("col_name", groupCol)
  }

  /** Estimate from a (possibly slice-unioned) register relation:
    * max-merges duplicate registers first, then applies the standard
    * estimator — [[hllRegistersByGroup]]'s read side.
    */
  def hllEstimateFromRegisterRelation(regs: DataFrame, groupCol: String,
                                      p: Int = 8): DataFrame = {
    require(p >= 7 && p <= 16, s"p=$p outside the alpha_m>=128 regime")
    val merged = regs.groupBy(col(groupCol).as("col_name"), col("reg"))
      .agg(max("mj").as("mj"))
    hllEstimateFromRegs(merged, Seq("col_name"), p)
      .select(col("col_name").as(groupCol), col("hll_estimate"),
        col("nonzero").as("registers_used"))
  }

  private def hllOverPairs(pairs: DataFrame, p: Int): DataFrame = {
    require(p >= 7 && p <= 16, s"p=$p outside the alpha_m>=128 regime")
    val regs = hllRegisters(pairs, p)
    val est = hllEstimateFromRegs(regs, Seq("col_name"), p)
    val exact = pairs.groupBy("col_name")
      .agg(count_distinct(col("v")).as("exact_distinct"))
    est.join(exact, "col_name")
      .select(col("col_name"), col("exact_distinct"),
        col("hll_estimate"), col("nonzero").as("registers_used"))
  }

  /** Pairwise HLL set algebra between groups — how much vocabulary do
    * two crawl sources share, without ever joining the corpora: union
    * registers are the elementwise max of the per-group registers
    * (HLL's defining property: mergeable with no error growth), and
    * the intersection is inclusion-exclusion
    * `est(A) + est(B) - est(A∪B)` (Flajolet et al. 2007; the standard
    * estimator, noisier than either input — ±clamped at 0 for the
    * audit-friendly output). The exact intersection rides alongside
    * as the droppable audit branch, exactly like n39's exact-distinct.
    *
    * Shape at scale: the corpus contributes ONE register-building scan
    * (`groups * 2^p`-bounded shuffle); everything pairwise — the
    * union-max, the estimates, inclusion-exclusion — runs on the
    * register relation (groups² * 2^p rows at worst), never on data.
    * The exact-audit branch is the only corpus-sized join; drop it at
    * 100 TB.
    */
  def hllOverlapByGroup(df: DataFrame, groupCol: String, valueCol: String,
                        p: Int = 8): DataFrame = {
    require(p >= 7 && p <= 16, s"p=$p outside the alpha_m>=128 regime")
    val pairs = df.select(col(groupCol).cast("string").as("col_name"),
        col(valueCol).cast("string").as("v"))
      .filter(col("v").isNotNull)
    val regs = hllRegisters(pairs, p)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val single = hllEstimateFromRegs(regs, Seq("col_name"), p)
      .select(col("col_name"), col("hll_estimate"))
    val groups = regs.select("col_name").distinct()
    val gpairs = groups.as("a").join(groups.as("b"),
        col("a.col_name") < col("b.col_name"))
      .select(col("a.col_name").as("ga"), col("b.col_name").as("gb"))
    val unionRegs = gpairs.join(regs,
        col("col_name") === col("ga") || col("col_name") === col("gb"))
      .groupBy("ga", "gb", "reg").agg(max("mj").as("mj"))
    val unionEst = hllEstimateFromRegs(unionRegs, Seq("ga", "gb"), p)
      .select(col("ga"), col("gb"), col("hll_estimate").as("est_union"))
    val exact = pairs.distinct()
    val exactCommon = gpairs
      .join(exact.select(col("col_name").as("ga"), col("v")), Seq("ga"))
      .join(exact.select(col("col_name").as("gb"), col("v")), Seq("gb", "v"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("exact_common"))
    unionEst
      .join(single.select(col("col_name").as("ga"),
        col("hll_estimate").as("est_a")), Seq("ga"))
      .join(single.select(col("col_name").as("gb"),
        col("hll_estimate").as("est_b")), Seq("gb"))
      .join(exactCommon, Seq("ga", "gb"), "left")
      .select(col("ga").as("source_a"), col("gb").as("source_b"),
        coalesce(col("exact_common"), lit(0L)).as("exact_common"),
        col("est_a"), col("est_b"), col("est_union"),
        round(greatest(col("est_a") + col("est_b") - col("est_union"),
          lit(0.0)), 2).as("est_common"))
  }

  /** Histogram quantile sketch over an integral column — the third leg
    * of the profiling trio (HLL: how many distinct; CMS: how often;
    * this: how distributed). Exact quantiles need a total sort of the
    * corpus; the histogram answers "the q-quantile lies in
    * [est_lo, est_hi]" from ONE combinable aggregation whose output is
    * at most `bins` rows, with bracket width (range/bins) — the
    * decision-grade answer for partition sizing or filter thresholds at
    * 100 TB.
    *
    * Every step is integer arithmetic on the data (ceil-divided bin
    * width, `div` bin assignment, integer cumulative counts), so the
    * sketch is identical on any partitioning and fully oracle-replayable.
    * The only float op is the target rank `ceil(q*n)`, a single IEEE
    * expression written identically in the oracle.
    *
    * Shape at scale: one min/max/count pass (combinable, 1 row,
    * broadcast back), one bin-count pass (combinable, <= bins rows out),
    * then everything downstream — the cumulative window, the
    * probe-vs-cum range join — runs on metadata-sized relations (bins x
    * quantiles), where the unpartitioned window and the nested-loop
    * join are free by construction. The exact-quantile audit branch
    * aggregates per distinct VALUE (cardinality-sized — fine for token
    * counts, the profiling target; drop it at scale exactly like n39's
    * exact-distinct and n40's exact-count branches).
    */
  def histQuantiles(df: DataFrame, valueCol: String,
                    qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.99),
                    bins: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bins >= 2, "need at least two bins")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must lie in (0, 1]")
    val vals = df.select(col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
    val bounds = vals.agg(min("v").as("lo"), max("v").as("hi"),
      count(lit(1)).as("n"))
    // integer ceil division: width >= 1 even when all values coincide
    val widthExpr = s"(hi - lo + $bins) div $bins"
    val hist = vals.crossJoin(broadcast(bounds))
      .withColumn("bin", expr(s"(v - lo) div ($widthExpr)"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum", sum("cnt").over(Window.orderBy("bin")))
    val probes = bounds
      .select(col("lo"), col("hi"), col("n"),
        explode(array(qs.map(lit): _*)).as("q"))
      .withColumn("r", greatest(ceil(col("q") * col("n")), lit(1L)))
    // smallest bin whose cumulative count reaches the target rank; the
    // theta join is (quantiles x bins) — metadata-sized by construction
    val est = probes.join(cum, col("cum") >= col("r"))
      .groupBy("q", "lo", "hi", "n", "r").agg(min("bin").as("bin"))
      .withColumn("est_lo", col("lo") + col("bin") * expr(widthExpr))
      .withColumn("est_hi",
        least(col("hi"), col("lo") + (col("bin") + 1) * expr(widthExpr) - 1))
    // exact audit: smallest value whose cumulative count reaches r
    val vcum = vals.groupBy("v").agg(count(lit(1)).as("c"))
      .withColumn("vcum", sum("c").over(Window.orderBy("v")))
    val exact = probes.select("q", "r").join(vcum, col("vcum") >= col("r"))
      .groupBy("q", "r").agg(min("v").as("exact_value"))
    est.join(exact, Seq("q", "r"))
      .select(col("q"), col("n"), col("r"), col("est_lo"), col("est_hi"),
        col("exact_value"))
  }

  /** One (group, quantile) target of [[bisectQuantiles]]: rank `r` of
    * the group's `total` mass, its candidate range [lo, hi], the mass
    * `below` lo already accounted for, and the corpus aggregations it
    * has taken (the final per-value pass included).
    */
  private final class QuantileTarget(val grp: String, val q: Double,
                                     val total: Long, val r: Long,
                                     var lo: Long, var hi: Long) {
    var below = 0L
    var passes = 1L
    var value = 0L
  }

  /** The one exact-quantile kernel behind [[exactQuantiles]],
    * [[weightedQuantiles]] and their ByGroup twins: for every group of
    * `vals` (columns `grp`, `v`, `w`) and every q, the smallest `v`
    * whose cumulative `w` reaches rank ceil(q·total) (the n43
    * convention; unit `w` makes it the row-count order statistic) —
    * WITHOUT a global sort. This is distributed selection (the k-th
    * element algorithm of Blum et al. re-expressed as range bisection),
    * the shape Spark's own approxQuantile refuses to make exact.
    *
    * Every (group, q) target bisects its OWN candidate range, but all
    * targets advance in LOCK-STEP: each round is ONE corpus aggregation
    * (the distinct candidate ranges broadcast-joined on the group,
    * `w` summed per bin), after which the driver walks each target's
    * bins to the one holding its rank and recurses into it; upper bin
    * edges saturate ([[saturatedHi]]). Once a range fits one bin span
    * it stops; one final per-value pass reads every answer off the
    * cumulative sums. Rounds run until the widest range fits —
    * log_bins(range), 3 rounds for a 2^24 range at 256 bins — so the
    * job count follows the round count, not |qs| or the group count.
    * Targets sharing a range (every q of a group in round one) share
    * its rows. The group match is null-safe: null is one group, as in
    * `groupBy` and a `PARTITION BY` oracle.
    *
    * All range/rank arithmetic is LONG (partition-invariant; weight
    * sums exact for a total below 2^63), and a range within `bins` of
    * 2^63 is refused because the ceil width (hi - lo + bins) / bins
    * must not wrap. Each round's collect is `ranges × bins`-bounded
    * and the driver holds `groups × qs` targets, so `groupCap`
    * (operator name, maxGroups) refuses an over-cardinal group column
    * with one distinct count BEFORE any per-group state is collected;
    * the scalar operators pass None — their one constant group needs
    * neither the probe nor a group name in the range refusal. The
    * working-set cache is released on every exit. The oracles state the
    * DEFINITION (a rank window over value-grouped sums), so a green row
    * proves the bisection finds the true order statistic, not a replay
    * of itself.
    */
  private def bisectQuantiles(vals: DataFrame, qs: Seq[Double], bins: Int,
                              groupCap: Option[(String, Int)]): Seq[QuantileTarget] = {
    require(bins >= 2, "need at least two bins")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must lie in (0, 1]")
    groupCap.foreach { case (_, cap) => require(cap >= 1, "maxGroups must be >= 1") }
    val spark = vals.sparkSession
    import spark.implicits._
    val working = vals.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      groupCap.foreach { case (op, cap) =>
        val nGroups = working.select("grp").distinct().count()
        if (nGroups > cap) throw new IllegalArgumentException(
          s"$op holds groups x qs driver state and collects " +
          s"groups x qs x bins rows per round: got $nGroups groups " +
          s"(cap $cap). Use histQuantilesByGroup for unbounded group " +
          "counts - its bracketed quantiles stay fully distributed.")
      }
      val targets = working.groupBy("grp")
        .agg(min("v"), max("v"), sum("w")).collect().toSeq.flatMap { b =>
          val (g, lo, hi, total) = (b.getString(0), b.getLong(1), b.getLong(2), b.getLong(3))
          require(BigInt(hi) - BigInt(lo) < BigInt(Long.MaxValue) - bins,
            (if (groupCap.isEmpty) "value range" else s"value range of group $g") +
              " exceeds 2^63 - bins - shift/scale values first")
          qs.map(q => new QuantileTarget(g, q, total,
            math.max(1L, math.ceil(q * total).toLong), lo, hi))
        }
      def binWidth(lo: Long, hi: Long): Long = (hi - lo + bins) / bins // ceil: >= 1
      // one corpus aggregation for all of `ts`: `w` summed per (range, key)
      def sums(ts: Seq[QuantileTarget], key: Column): QuantileTarget => Array[(Long, Long)] = {
        val ranges = ts.map(t => (t.grp, t.lo, t.hi)).distinct
        val byRange = ranges.zipWithIndex
          .map { case ((g, lo, hi), i) => (i, g, lo, hi, binWidth(lo, hi)) }
          .toDF("rid", "rgrp", "lo", "hi", "bw")
        val rows = working.join(broadcast(byRange), col("grp") <=> col("rgrp") &&
            col("v") >= col("lo") && col("v") <= col("hi"))
          .groupBy(col("rid"), key.as("k")).agg(sum("w").as("s"))
          .collect() // ranges x bins bounded by construction
          .groupBy(_.getInt(0)).map { case (i, rs) =>
            ranges(i) -> rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1) }
        t => rows.getOrElse((t.grp, t.lo, t.hi), Array.empty)
      }
      // the first key whose cumulative sum reaches the rank, and the sum below it
      def reach(t: QuantileTarget, keyed: Array[(Long, Long)]): (Long, Long) = {
        var cum = t.below
        keyed.collectFirst { case (k, s) if { cum += s; cum >= t.r } => (k, cum - s) }
          .getOrElse(throw new IllegalStateException(
            s"rank ${t.r} not reached for group ${t.grp}, q=${t.q}"))
      }
      var active = targets.filter(t => t.hi - t.lo + 1 > bins)
      while (active.nonEmpty) {
        val binSums = sums(active, expr("(v - lo) div bw"))
        active.foreach { t =>
          val w = binWidth(t.lo, t.hi)
          val (bin, below) = reach(t, binSums(t))
          val binLo = t.lo + bin * w
          t.hi = saturatedHi(binLo, w, t.hi)
          t.lo = binLo
          t.below = below
          t.passes += 1
        }
        active = active.filter(t => t.hi - t.lo + 1 > bins)
      }
      if (targets.nonEmpty) {
        val valueSums = sums(targets, col("v"))
        targets.foreach(t => t.value = reach(t, valueSums(t))._1)
      }
      targets
    } finally working.unpersist()
  }

  /** EXACT quantiles of an integral column without a global sort
    * ([[bisectQuantiles]] over one constant group, unit weights): one
    * row per `qs` entry, `n` the non-null count, `r` = ceil(q·n), and
    * `agg_passes` the corpus aggregations that q needed (its bisection
    * rounds plus the final per-value pass).
    */
  def exactQuantiles(df: DataFrame, valueCol: String,
                     qs: Seq[Double] = Seq(0.5, 0.99),
                     bins: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ts = bisectQuantiles(df.select(lit(null).cast("string").as("grp"),
        col(valueCol).cast("long").as("v"), lit(1L).as("w"))
      .filter(col("v").isNotNull), qs, bins, None)
    require(ts.nonEmpty, "no non-null values")
    ts.map(t => (t.q, t.total, t.r, t.value, t.passes))
      .toDF("q", "n", "r", "exact_value", "agg_passes")
  }

  /** WEIGHTED [[exactQuantiles]] — exact quantiles of `valueCol` under
    * a `weightCol` mass instead of row count: the q-quantile is the
    * smallest value whose cumulative WEIGHT reaches ceil(q·totalWeight).
    * This is the curation pipeline's budget question — "what length /
    * quality cutoff keeps 90% of the TOKEN MASS" — where the unweighted
    * quantile answers the wrong thing (documents are not equal-sized:
    * a p50 over docs can sit far from the p50 over tokens). Rows with
    * null or non-positive weight carry no mass and are dropped up front
    * (weights are counts — token counts, byte sizes; fractional mass
    * belongs upstream as a scaled integer). Same kernel, output and
    * `agg_passes` as [[exactQuantiles]], with `total_w` for `n`.
    */
  def weightedQuantiles(df: DataFrame, valueCol: String, weightCol: String,
                        qs: Seq[Double] = Seq(0.5, 0.99),
                        bins: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ts = bisectQuantiles(df.select(lit(null).cast("string").as("grp"),
        col(valueCol).cast("long").as("v"), col(weightCol).cast("long").as("w"))
      .filter(col("v").isNotNull && col("w").isNotNull && col("w") > 0L),
      qs, bins, None)
    require(ts.nonEmpty, "no positive-weight values")
    ts.map(t => (t.q, t.total, t.r, t.value, t.passes))
      .toDF("q", "total_w", "r", "exact_value", "agg_passes")
  }

  /** Group-wise [[exactQuantiles]] — per-domain exact p50/p99 without
    * sorting anything, all (group, q) targets in one [[bisectQuantiles]]
    * run: one row per (group, distinct q); a null group is one group.
    *
    * The driver state and each round's collect are `groups`-bounded,
    * so the group column must be LOW-CARDINALITY by declaration
    * (language, source, license — not URL or domain): `maxGroups`
    * refuses an unbounded group column (the bruteScores guard
    * convention) rather than OOMing the driver mid-bisection. For
    * unbounded group counts use [[histQuantilesByGroup]] — its bins
    * and windows stay fully distributed at any group cardinality.
    */
  def exactQuantilesByGroup(df: DataFrame, groupCol: String, valueCol: String,
                            qs: Seq[Double] = Seq(0.5, 0.99),
                            bins: Int = 256,
                            maxGroups: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bisectQuantiles(df.select(col(groupCol).cast("string").as("grp"),
        col(valueCol).cast("long").as("v"), lit(1L).as("w"))
      .filter(col("v").isNotNull), qs.distinct, bins,
      Some(("exactQuantilesByGroup", maxGroups)))
      .map(t => (t.grp, t.q, t.total, t.r, t.value))
      .toDF(groupCol, "q", "n", "r", "exact_value")
  }

  /** Group-wise [[weightedQuantiles]] — per-language / per-source
    * token-MASS order statistics ("what length cutoff keeps 90% of
    * THIS language's token mass"), the question per-group curation
    * budgets actually pose: [[exactQuantilesByGroup]] weights every
    * document equally, which misprices any group whose documents skew
    * long or short. Rows with null or non-positive weight carry no mass
    * (the [[weightedQuantiles]] convention), so a group with no
    * positive weight has no rows. Same kernel, `maxGroups` refusal and
    * null group as [[exactQuantilesByGroup]] —
    * [[histQuantilesByGroup]] is the fully-distributed alternative
    * (weight its input rows upstream or accept per-document brackets).
    */
  def weightedQuantilesByGroup(df: DataFrame, groupCol: String,
                               valueCol: String, weightCol: String,
                               qs: Seq[Double] = Seq(0.5, 0.99),
                               bins: Int = 256,
                               maxGroups: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bisectQuantiles(df.select(col(groupCol).cast("string").as("grp"),
        col(valueCol).cast("long").as("v"), col(weightCol).cast("long").as("w"))
      .filter(col("v").isNotNull && col("w").isNotNull && col("w") > 0L),
      qs.distinct, bins, Some(("weightedQuantilesByGroup", maxGroups)))
      .map(t => (t.grp, t.q, t.total, t.r, t.value))
      .toDF(groupCol, "q", "total_w", "r", "exact_value")
  }

  /** Group-wise [[histQuantiles]] — per-source/per-language value
    * quantiles in one pass, the profiling shape a mixture report needs
    * ("doc-length p50/p99 per domain"). Same integer binning and
    * bracket semantics per group; every window here is PARTITIONED by
    * the group and its partitions are bounded by `bins` (histogram cum)
    * or the group's value cardinality (the exact-audit branch, which —
    * exactly as in [[histQuantiles]] — is droppable at scale: the
    * brackets alone are the sketch). The bounds relation is
    * groups-sized and broadcast; the theta join stays
    * groups × quantiles × bins — metadata-sized.
    */
  def histQuantilesByGroup(df: DataFrame, groupCol: String, valueCol: String,
                           qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.99),
                           bins: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bins >= 2, "need at least two bins")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must lie in (0, 1]")
    val vals = df.select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
    val bounds = vals.groupBy("g").agg(min("v").as("lo"), max("v").as("hi"),
      count(lit(1)).as("n"))
    val widthExpr = s"(hi - lo + $bins) div $bins"
    val hist = vals.join(broadcast(bounds), Seq("g"))
      .withColumn("bin", expr(s"(v - lo) div ($widthExpr)"))
      .groupBy("g", "bin").agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum("cnt").over(Window.partitionBy("g").orderBy("bin")))
      .withColumnsRenamed(Map("g" -> "cg"))
    val probes = bounds
      .select(col("g"), col("lo"), col("hi"), col("n"),
        explode(array(qs.map(lit): _*)).as("q"))
      .withColumn("r", greatest(ceil(col("q") * col("n")), lit(1L)))
    val est = probes.join(cum, col("cg") === col("g") && col("cum") >= col("r"))
      .groupBy("g", "q", "lo", "hi", "n", "r").agg(min("bin").as("bin"))
      .withColumn("est_lo", col("lo") + col("bin") * expr(widthExpr))
      .withColumn("est_hi",
        least(col("hi"), col("lo") + (col("bin") + 1) * expr(widthExpr) - 1))
    val vcum = vals.groupBy("g", "v").agg(count(lit(1)).as("c"))
      .withColumn("vcum", sum("c").over(Window.partitionBy("g").orderBy("v")))
      .withColumnsRenamed(Map("g" -> "vg"))
    val exact = probes.select(col("g"), col("q"), col("r"))
      .join(vcum, col("vg") === col("g") && col("vcum") >= col("r"))
      .groupBy("g", "q", "r").agg(min("v").as("exact_value"))
    est.join(exact, Seq("g", "q", "r"))
      .select(col("g"), col("q"), col("n"), col("r"), col("est_lo"),
        col("est_hi"), col("exact_value"))
  }

  /** CMS cells as a PUBLISHABLE relation — the count-sketch twin of
    * [[hllRegistersByGroup]]: each slice writes its
    * `(row_id, cell, c)` rows (depth × width bounded) and the corpus
    * sketch is the cell-wise SUM of slice relations — counts are
    * additive, so merging never rescans the corpus. Unlike HLL's
    * idempotent max-merge, ADDITION double-counts on re-delivery:
    * exactly-once slice publication is the contract (the same one the
    * corpus snapshot's digest relation carries).
    */
  def cmsCells(docs: DataFrame, depth: Int = 4, width: Int = 1024,
               seed: Long = 42L): DataFrame = {
    val counts = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    cmsWordCells(counts, depth, width, seed)
      .groupBy("row_id", "cell").agg(sum("cnt").as("c"))
  }

  /** Streaming-legal CMS build over raw word OCCURRENCES
    * (`words(word)`): one aggregation total, because the word pre-agg
    * in [[cmsCells]] is an optimization, not semantics — summing
    * per-word counts into cells equals counting occurrences directly.
    * Structured Streaming forbids chained aggregations, so this is
    * the form that maintains additive sketch state on an unbounded
    * source; batch-equality with [[cmsCells]] is spec-asserted.
    */
  def cmsCellsFromOccurrences(words: DataFrame, depth: Int = 4,
                              width: Int = 1024, seed: Long = 42L): DataFrame =
    cmsWordCells(words.select(col("word"), lit(1L).as("cnt")), depth, width, seed)
      .groupBy("row_id", "cell").agg(count(lit(1)).as("c"))

  /** (word, cnt, row_id, cell) rows for a word-count relation — the
    * one FNV⊕splitmix→fmix cell derivation shared by the publishable
    * cells ([[cmsCells]]) and the legacy build+probe path
    * ([[cmsWordCounts]]), so the hash chain cannot drift between them.
    */
  private def cmsWordCells(counts: DataFrame, depth: Int, width: Int,
                           seed: Long): DataFrame = {
    require(depth >= 1 && (width & (width - 1)) == 0, "width must be a power of 2")
    val cellCols = (0 until depth).map { i =>
      val perm = graft.functions.Hashing.splitmix64(seed + i)
      struct(lit(i).as("row_id"),
        fmix64(fnv64(col("word")).bitwiseXOR(lit(perm)))
          .bitwiseAND(lit((width - 1).toLong)).as("cell"))
    }
    counts.select(col("word"), col("cnt"),
        explode(array(cellCols: _*)).as("rc"))
      .select(col("word"), col("cnt"),
        col("rc.row_id").as("row_id"), col("rc.cell").as("cell"))
  }

  /** Probe a (possibly slice-unioned) cell relation for `words`:
    * sum-merges duplicate cells first, then takes the min over the
    * depth rows — [[cmsCells]]'s read side. The probe cells are
    * computed driver-side with the same FNV⊕splitmix→fmix chain the
    * build uses ([[graft.functions.Hashing]] mirrors the codegen
    * kernels bit-for-bit), so no corpus access happens at read time.
    */
  def cmsEstimateFromCells(cells: DataFrame, words: Seq[String],
                           depth: Int = 4, width: Int = 1024,
                           seed: Long = 42L): DataFrame = {
    require(words.nonEmpty)
    val spark = cells.sparkSession
    import spark.implicits._
    val merged = cells.groupBy("row_id", "cell").agg(sum("c").as("c"))
    val probes = words.flatMap { w =>
      (0 until depth).map { i =>
        val perm = graft.functions.Hashing.splitmix64(seed + i)
        val cell = graft.functions.Hashing.fmix64(
          graft.functions.Hashing.fnv1a64(w) ^ perm) & (width - 1).toLong
        (w, i, cell)
      }
    }.toDF("word", "row_id", "cell")
    probes.join(merged, Seq("row_id", "cell"), "left")
      .groupBy("word")
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_estimate"))
  }

  /** Count-min sketch over the corpus word frequencies (Cormode &
    * Muthukrishnan 2005) — bounded-memory term-frequency estimation:
    * `depth × width` counters answer "how often does this term occur"
    * with one-sided error (estimate >= truth, overshoot < corpus/width
    * w.h.p.), regardless of vocabulary size. Fully integer end to end
    * — value hash fnv64 xor'd with a splitmix64 row seed through
    * fmix64, cell = low bits, counters are exact sums, the estimate is
    * a min — so the oracle replay has no float step at all.
    *
    * Shape at scale: exact per-word counts first (one combinable
    * shuffle — the same relation any frequency pass needs), then the
    * sketch build is a `depth × width`-bounded second agg, and probes
    * are a broadcast-sized join against it. The probe set here (top-K
    * exact terms, count-desc/word-asc — deterministic) exercises the
    * worst case for CMS: heavy hitters collide with everything.
    *
    * Returns (word, exact_count, cms_estimate): the exact column is
    * the audit; `cms_estimate >= exact_count` always (spec-asserted).
    * The persisted vocabulary relation stays in the session
    * CacheManager — caller-owned lifecycle (Bench clearCache()s
    * between runs).
    */
  /** EXACT heavy hitters — every item with count strictly above n/k —
    * in two scans and no corpus-sized shuffle.
    *
    * Pass 1: a per-partition Misra–Gries summary with k counters. By
    * pigeonhole, an item with global count > n/k exceeds its partition
    * threshold n_p/k in at least one partition (if it were <= n_p/k in
    * all of them the totals would sum to <= n/k), and MG(k) never
    * evicts an item whose partition count exceeds n_p/k — so the union
    * of partition candidates is a SUPERSET of every true heavy hitter.
    * That union is at most partitions * k rows, collected driver-side
    * under the same metadata-size convention as the IVF training
    * sample (one array-typed row per partition, k items each).
    *
    * Pass 2: an exact recount of candidates only, behind a broadcast
    * semi-join (map-side combinable agg over candidate-matching rows;
    * the shuffle carries at most |candidates| keys). The result is
    * EXACT — the sketch only bounds who gets recounted — which is what
    * lets the oracle be DEFINITIONAL (HAVING count * k > n) rather
    * than a replay of this choreography.
    *
    * cf. Misra & Gries 1982; the two-pass exact variant is the
    * classic distributed-frequent-items recipe.
    */
  def exactHeavyHitters(items: org.apache.spark.sql.Dataset[String], k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val spark = items.sparkSession
    import spark.implicits._
    val summaries = items.mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      var total = 0L
      it.foreach { w =>
        total += 1
        counters.get(w) match {
          case Some(c) => counters.update(w, c + 1)
          case None if counters.size < k => counters.update(w, 1L)
          case None =>
            // decrement-all step: O(k), amortized O(1) per input item
            val snapshot = counters.keysIterator.toArray
            snapshot.foreach { kw =>
              val c = counters(kw)
              if (c == 1L) counters.remove(kw) else counters.update(kw, c - 1)
            }
        }
      }
      Iterator.single((counters.keysIterator.toArray, total))
    }.collect() // bounded: one row per partition, <= k candidates each
    val n = summaries.map(_._2).sum
    val cand = summaries.iterator.flatMap(_._1).toArray.distinct.toSeq.toDF("item")
    items.toDF("item")
      .join(broadcast(cand), "item")
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > n)
  }

  /** Per-group exact heavy hitters — [[exactHeavyHitters]] stratified:
    * every (group, item) with count > n_group / k, exactly. One
    * Misra–Gries summary PER GROUP per partition (the superset proof
    * applies within each group separately), candidates and per-group
    * totals collected at partitions × groups × k (metadata-sized for
    * the grouping columns this is meant for — sources, languages,
    * shards), then one exact recount behind a broadcast semi-join on
    * the (group, item) candidate pairs.
    */
  def exactHeavyHittersByGroup(pairs: DataFrame, groupCol: String,
                               itemCol: String, k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val spark = pairs.sparkSession
    import spark.implicits._
    val ds = pairs.select(col(groupCol).cast("string"), col(itemCol).cast("string"))
      .as[(String, String)]
    val summaries = ds.mapPartitions { it =>
      val state = scala.collection.mutable.HashMap
        .empty[String, (scala.collection.mutable.HashMap[String, Long], Array[Long])]
      it.foreach { case (g, w) =>
        val (counters, total) = state.getOrElseUpdate(g,
          (scala.collection.mutable.HashMap.empty[String, Long], Array(0L)))
        total(0) += 1
        counters.get(w) match {
          case Some(c) => counters.update(w, c + 1)
          case None if counters.size < k => counters.update(w, 1L)
          case None =>
            val snapshot = counters.keysIterator.toArray
            snapshot.foreach { kw =>
              val c = counters(kw)
              if (c == 1L) counters.remove(kw) else counters.update(kw, c - 1)
            }
        }
      }
      state.iterator.map { case (g, (counters, total)) =>
        (g, counters.keysIterator.toArray, total(0))
      }
    }.collect()
    val totals = summaries.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val cand = summaries.iterator
      .flatMap { case (g, ws, _) => ws.iterator.map(w => (g, w)) }
      .toArray.distinct.toSeq.toDF(groupCol, itemCol)
    val totalsDf = totals.toSeq.toDF(groupCol, "grp_n")
    pairs.select(col(groupCol).cast("string"), col(itemCol).cast("string"))
      .join(broadcast(cand), Seq(groupCol, itemCol))
      .groupBy(groupCol, itemCol).agg(count(lit(1)).as("cnt"))
      .join(broadcast(totalsDf), groupCol)
      .filter(col("cnt") * k > col("grp_n"))
      .select(col(groupCol), col(itemCol), col("cnt"))
  }

  def cmsWordCounts(docs: DataFrame, depth: Int = 4, width: Int = 1024,
                    topK: Int = 10, seed: Long = 42L): DataFrame = {
    // persisted: this vocabulary-sized relation feeds BOTH the sketch
    // build and the probe top-k — without it the corpus-wide word-count
    // shuffle (the only corpus-sized work here) runs twice. Vocabulary
    // is sublinear in corpus size, so MEMORY_AND_DISK is safe at scale.
    val counts = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells = cmsWordCells(counts, depth, width, seed)
    val cms = cells.groupBy("row_id", "cell").agg(sum("cnt").as("c"))
    val probes = counts.orderBy(col("cnt").desc, col("word")).limit(topK)
      .select(col("word"), col("cnt").as("exact_count"))
    probes.join(cells.drop("cnt"), "word")
      .join(cms, Seq("row_id", "cell"))
      .groupBy("word", "exact_count")
      .agg(min("c").as("cms_estimate"))
  }

  /** Tukey IQR outlier fences per group over a double column, computed
    * in 2^scaleBits fixed point so the quartiles are EXACT order
    * statistics (via [[exactQuantilesByGroup]]'s lock-step bisection —
    * no sort, no approx) and the fence arithmetic is integer:
    * iqr = q3 - q1, fences = q1/q3 -/+ (3*iqr) div 2 (truncating —
    * iqr >= 0, so this equals floor). Returns per group the quartiles,
    * fences, and the outlier counts on each side — the anomaly-audit
    * report a pipeline runs per slice before trusting a metric.
    *
    * Scale shape: the bisection's log-range rounds of combinable bin
    * counts + one broadcast fence join + one counting agg. Nothing
    * corpus-sized is ever collected or sorted.
    */
  def outlierFences(df: DataFrame, groupCol: String, valueCol: String,
                    scaleBits: Int = 10): DataFrame = {
    val scaled = df.select(col(groupCol).cast("string").as(groupCol),
      floor(col(valueCol) * (1L << scaleBits)).cast("long").as("v_scaled"))
    val qdf = exactQuantilesByGroup(scaled, groupCol, "v_scaled", Seq(0.25, 0.75))
    val fences = qdf.groupBy(col(groupCol))
      .agg(max(when(col("q") === 0.25, col("exact_value"))).as("q1"),
           max(when(col("q") === 0.75, col("exact_value"))).as("q3"))
      .withColumn("lo", expr("q1 - (3 * (q3 - q1)) div 2"))
      .withColumn("hi", expr("q3 + (3 * (q3 - q1)) div 2"))
    scaled.join(broadcast(fences), groupCol)
      .groupBy(col(groupCol))
      .agg(max("q1").as("q1"), max("q3").as("q3"),
        max("lo").as("lo"), max("hi").as("hi"),
        sum(when(col("v_scaled") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("v_scaled") > col("hi"), 1L).otherwise(0L)).as("n_high"),
        count(lit(1)).as("n_total"))
  }

  /** Robust per-group outlier detection by the median/MAD rule
    * (Iglewicz & Hoaglin 1993): modified z = 0.6745·(x − med)/MAD,
    * flag |z| > 3.5 — the robust complement to [[outlierFences]]'
    * Tukey fences (the median/MAD pair has a 50% breakdown point
    * where mean/stddev break at one bad row). Input `valueCol` must
    * already be integral (cast/scale upstream, the n116 convention).
    *
    * Two lock-step exact-quantile bisections (the group median, then
    * the median of absolute deviations) and one counting pass — a
    * log(range) number of combinable aggs, never a global sort. The
    * outlier test is CROSS-MULTIPLIED (6745·|x−med| > 35000·MAD), so
    * no division happens anywhere: all-integer and exactly
    * replayable, and for MAD = 0 it degenerates to flagging every
    * non-median value — the textbook behavior of the rule on
    * constant-majority data, pinned rather than special-cased.
    * Returns per-group (med, mad, n_low, n_high, n).
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val vals = df.select(col(groupCol).cast("string").as("grp"),
      col(valueCol).cast("long").as("v")).filter(col("v").isNotNull)
    val med = exactQuantilesByGroup(vals, "grp", "v", Seq(0.5))
      .select(col("grp"), col("exact_value").as("med"))
    val dev = vals.join(broadcast(med), "grp")
      .select(col("grp"), col("v"), col("med"),
        abs(col("v") - col("med")).as("adev"))
    val mad = exactQuantilesByGroup(dev, "grp", "adev", Seq(0.5))
      .select(col("grp"), col("exact_value").as("mad"))
    dev.join(broadcast(mad), "grp")
      .groupBy("grp", "med", "mad")
      .agg(
        sum(when(lit(6745L) * (col("med") - col("v")) >
          lit(35000L) * col("mad"), 1L).otherwise(0L)).as("n_low"),
        sum(when(lit(6745L) * (col("v") - col("med")) >
          lit(35000L) * col("mad"), 1L).otherwise(0L)).as("n_high"),
        count(lit(1)).as("n"))
      .select(col("grp").as(groupCol), col("med"), col("mad"),
        col("n_low"), col("n_high"), col("n"))
  }
}
