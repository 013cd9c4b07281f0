package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Hashing

/** Native Catalyst expressions for the similarity / dedup operators
  * (SURVEY.md §7.2 phase 6 north-star ops). All implement `doGenCode`
  * via static helper calls, so they stay inside whole-stage codegen —
  * no UDF serialization, no codegen fallback in the hot path.
  *
  * Lives under `org.apache.spark.sql` because `AbstractDataType` and the
  * Column<->Expression bridge (`classic.ExpressionUtils`) are
  * `private[sql]` — the standard packaging for Spark extension libraries.
  */
object SimilarityKernels {
  /** Cosine similarity of two float vectors, accumulated in double.
    * Mismatched lengths use the common prefix; zero vectors -> 0.0.
    */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val a = x.getFloat(i).toDouble; val b = y.getFloat(i).toDouble
      dot += a * b; nx += a * a; ny += b * b; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var d = 0.0; var i = 0
    while (i < n) { d += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    d
  }

  /** Per-(seed, numHashes) permutation keys, cached so the inner loop is
    * xor+fmix only (splitmix64 per permutation would otherwise run
    * nShingles * numHashes times per row).
    */
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int), Array[Long]]()
  def perms(seed: Long, numHashes: Int): Array[Long] =
    permCache.computeIfAbsent((seed, numHashes), { key =>
      Array.tabulate(key._2)(i => Hashing.splitmix64(key._1 + i))
    })

  /** MinHash signature over character k-shingles of `text`.
    * Permutation i is `fmix64(shingleHash ^ splitmix64(seed+i))`; the
    * signature element is the minimum over shingles. Texts shorter than
    * k yield the single shingle = the whole text.
    */
  def minhash(text: UTF8String, k: Int, numHashes: Int, seed: Long): ArrayData = {
    val s = text.toString
    val len = s.length
    val nShingles = math.max(1, len - k + 1)
    val hs = new Array[Long](nShingles)
    var j = 0
    while (j < nShingles) {
      hs(j) = Hashing.fnv1a64(s, j, math.min(len, j + k))
      j += 1
    }
    minOverDistinct(hs, numHashes, seed)
  }

  /** The minhash inner loop over the DISTINCT shingle hashes: natural
    * text repeats shingles heavily, and a duplicate hash contributes
    * the identical fmix64 row to every permutation — min over the
    * distinct set IS min over the multiset, so sorting the hashes and
    * skipping equal neighbors removes the duplicate share of the
    * nShingles x numHashes work (the kernel's dominant cost) while the
    * signature stays bit-identical (spec-pinned against the
    * per-occurrence form).
    */
  private def minOverDistinct(hs: Array[Long], numHashes: Int,
                              seed: Long): ArrayData = {
    java.util.Arrays.sort(hs)
    val p = perms(seed, numHashes)
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    var prev = 0L
    var first = true
    while (j < hs.length) {
      val h = hs(j)
      if (first || h != prev) {
        var i = 0
        while (i < numHashes) {
          val v = Hashing.fmix64(h ^ p(i))
          if (v < sig(i)) sig(i) = v
          i += 1
        }
        prev = h
        first = false
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** Per-(planes, tables, dim) hyperplane component cache: one flat
    * float array of tables x planes x dim entries, derived from
    * splitmix64 exactly as the former literal-array construction
    * (seed = table * 1000003 + plane * 8191 + i, widened to [-1, 1)
    * and truncated to float), so the n09/n14 oracles replay unchanged.
    * Materialized once per executor instead of once per plan: the plan
    * carries only (planes, tables), so plan size is independent of the
    * embedding dimensionality (a production 768-dim / 12-plane / 8-table
    * shape would otherwise inline ~74k literals into codegen).
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Float]]()
  def hyperplanes(planes: Int, tables: Int, dim: Int): Array[Float] =
    planeCache.computeIfAbsent((planes, tables, dim), { key =>
      val (p, t, d) = key
      val arr = new Array[Float](t * p * d)
      var j = 0
      while (j < arr.length) {
        val table = j / (p * d); val plane = (j / d) % p; val i = j % d
        val h = Hashing.splitmix64(table.toLong * 1000003L + plane.toLong * 8191L + i)
        arr(j) = (h.toDouble / Long.MaxValue.toDouble).toFloat
        j += 1
      }
      arr
    })

  /** Sign-LSH buckets of a float vector: element t is the `planes`-bit
    * bucket of hash table t, bit p = [dot(vec, hyperplane(t, p)) >= 0].
    * The dot accumulates left-to-right in double over float components —
    * the same order the former per-plane `dot_product` literals used
    * (and the order the DuckDB oracle replays as a sequential
    * list_reduce fold), so results are bit-identical.
    */
  def signBuckets(emb: ArrayData, nPlanes: Int, nTables: Int): ArrayData = {
    val d = emb.numElements()
    val comp = hyperplanes(nPlanes, nTables, d)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L; var p = 0
      while (p < nPlanes) {
        val base = (t * nPlanes + p) * d
        var dot = 0.0; var i = 0
        while (i < d) { dot += emb.getFloat(i).toDouble * comp(base + i).toDouble; i += 1 }
        if (dot >= 0.0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Johnson–Lindenstrauss random projection to `k` dimensions: dot
    * the float vector against the k table-0 splitmix64-derived
    * hyperplanes ([[hyperplanes]] — the same derivation sign-LSH
    * buckets with, so the plan carries only `k`, never k×dim
    * literals). Left-to-right double accumulation like [[signBuckets]],
    * so the oracle's sequential list_reduce fold is bit-identical.
    * Unscaled (the 1/√k JL factor is a constant — cosines and
    * relative distances are preserved without it; callers comparing
    * to the original scale multiply themselves).
    */
  def randomProject(emb: ArrayData, k: Int): ArrayData = {
    val d = emb.numElements()
    val comp = hyperplanes(k, 1, d)
    val out = new Array[Double](k)
    var p = 0
    while (p < k) {
      val base = p * d
      var dot = 0.0; var i = 0
      while (i < d) { dot += emb.getFloat(i).toDouble * comp(base + i).toDouble; i += 1 }
      out(p) = dot
      p += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over whitespace-separated tokens: each token votes
    * +1/-1 per bit of its hash; the sign of each bit-sum is the output
    * bit. Empty text -> 0L.
    */
  def simhash(text: UTF8String): Long = {
    val s = text.toString
    val counts = new Array[Int](64)
    var start = -1; var i = 0
    val len = s.length
    def flush(end: Int): Unit = if (start >= 0) {
      val h = Hashing.fnv1a64(s, start, end)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      start = -1
    }
    while (i < len) {
      val ws = Character.isWhitespace(s.charAt(i))
      if (!ws && start < 0) start = i
      else if (ws) flush(i)
      i += 1
    }
    flush(len)
    var out = 0L; var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** FNV-1a-64 of the text (UTF-16 units, two byte steps per char) —
    * the plain 64-bit value hash behind the HLL distinct sketch; same
    * fold the minhash/simhash kernels use, so the DuckDB HUGEINT replay
    * is shared.
    */
  def fnv64(text: UTF8String): Long = Hashing.fnv1a64(text.toString)

  /** Content-defined-chunking boundary positions: every 1-based char
    * position i in [w, len] where fnv64 of the trailing w-char window
    * hits 0 mod `modulus` — value-identical to filtering
    * pmod(fnv64(substr(i-w+1, w)), modulus) = 0 position by position,
    * but ONE tight loop per row instead of per-position substring
    * allocation through an interpreted lambda (measured 59 s -> sub-s
    * on the n100 sweep at sf0.1).
    */
  def cdcBoundaries(text: UTF8String, w: Int, modulus: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = text.toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = w
    while (i <= n) {
      if (java.lang.Math.floorMod(Hashing.fnv1a64(s, i - w, i), modulus.toLong) == 0L)
        out += i
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out.toArray)
  }

  /** FNV-1a-64 pushed through the murmur3 fmix64 finalizer — the HLL
    * value hash. Raw FNV's low bits avalanche poorly on short
    * near-identical strings (they bias register assignment, measured
    * +25% estimate error on sequential keys); fmix64 fixes the
    * distribution and stays exactly replayable (the minhash oracle
    * already replays the same fold in HUGEINT 32-bit-halves).
    */
  def fnvMix64(text: UTF8String): Long = Hashing.fmix64(Hashing.fnv1a64(text.toString))

  /** Plain murmur3 fmix64 over an already-hashed long — for combining
    * a value hash with per-row seeds (count-min sketch rows) while
    * keeping the combined hash avalanched.
    */
  def mix64(v: Long): Long = Hashing.fmix64(v)

  /** Jump consistent hash (Lamping & Veach 2014) in its
    * INTEGER-DIVISION variant: `j = ((b+1) << 31) / ((key >>> 33) + 1)`
    * replaces the paper's double arithmetic, which is not
    * cross-engine-replayable. The per-key jump sequence is independent
    * of `shards`, so the defining resharding law — growing n to n+1
    * moves a key ONLY to the new shard — holds exactly. O(1) memory
    * and an expected O(ln shards) loop vs rendezvous's O(shards)
    * scoring pass per key.
    */
  def jumpHash(key0: Long, shards: Int): Long = {
    var key = key0
    var b = -1L
    var j = 0L
    while (j < shards) {
      b = j
      key = key * 2862933555777941757L + 1L
      j = ((b + 1L) << 31) / ((key >>> 33) + 1L)
    }
    b
  }

  /** Polynomial rolling hash (Rabin-Karp style) of the text, mod 2^61-1 —
    * the document-fingerprint primitive.
    */
  def rollingHash(text: UTF8String): Long = {
    val s = text.toString
    val M = (1L << 61) - 1
    val B = 131L
    var h = 0L; var i = 0
    while (i < s.length) {
      // (h*B + c) mod M using 128-bit-safe math (Math.multiplyHigh)
      val lo = h * B
      val hi = Math.multiplyHigh(h, B)
      var v = (lo & M) + ((hi << 3) | (lo >>> 61))
      if (v >= M) v -= M
      h = v + s.charAt(i).toLong
      if (h >= M) h -= M
      i += 1
    }
    h
  }

  /** Character k-shingle set (distinct, sorted hashes) — the exact-
    * Jaccard verification primitive for candidate pairs.
    */
  def shingleSet(text: UTF8String, k: Int): ArrayData = {
    val s = text.toString
    val len = s.length
    val nShingles = math.max(1, len - k + 1)
    val hs = new Array[Long](nShingles)
    var j = 0
    while (j < nShingles) {
      hs(j) = Hashing.fnv1a64(s, j, math.min(len, j + k))
      j += 1
    }
    sortedDistinct(hs)
  }

  /** Intersection size of two SORTED DISTINCT long arrays (the
    * [[shingleSet]] / [[wordShingleSet]] output contract) by a single
    * merge scan — the exact-Jaccard verify kernel. Replaces
    * `size(array_intersect(a, b))`, whose generic implementation
    * builds a boxed hash set per ROW (one box per element, rebuilt for
    * every candidate pair): the merge scan allocates nothing and
    * reads both arrays once. On sorted-distinct inputs the count is
    * identical to array_intersect's by definition (distinct common
    * elements).
    *
    * Null contract: a NULL array gives a NULL count (the expression is
    * null-safe), but the elements must be non-null — the kernels'
    * arrays are `containsNull = false`. A null element is not checked
    * for: it reads as whatever its slot holds, so the count is undefined.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Sorted distinct of a primitive long array — the shingle-set tail
    * (same sorted-distinct output the former boxed TreeSet produced,
    * without the per-element boxing and tree rebalancing).
    */
  private def sortedDistinct(hs: Array[Long]): ArrayData = {
    java.util.Arrays.sort(hs)
    var n = 0
    var j = 0
    while (j < hs.length) {
      if (j == 0 || hs(j) != hs(j - 1)) { hs(n) = hs(j); n += 1 }
      j += 1
    }
    val out = if (n == hs.length) hs else java.util.Arrays.copyOf(hs, n)
    new GenericArrayData(out)
  }

  /** Whitespace tokens of `s` (Character.isWhitespace boundaries —
    * the same split simhash uses, validated against the oracle's
    * `\s+` replay). Shared by the word-gram kernels.
    */
  private def splitWords(s: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var start = -1; var i = 0
    while (i < s.length) {
      val ws = Character.isWhitespace(s.charAt(i))
      if (!ws && start < 0) start = i
      else if (ws && start >= 0) { out += s.substring(start, i); start = -1 }
      i += 1
    }
    if (start >= 0) out += s.substring(start)
    out.toArray
  }

  /** Word n-gram j = words[j .. j+n-1] joined with a single space —
    * hashed as that STRING so the oracle can rebuild the exact gram
    * text with array_to_string. Fewer than n words collapse to one
    * gram of all words (empty text -> the empty-string gram). The FNV
    * fold runs directly over the word chars with the joining space
    * hashed between words — char-for-char the fold of the joined
    * string, without materializing it (the former StringBuilder was
    * one allocation per gram on the kernel's hottest path).
    */
  private def gramHash(words: Array[String], j: Int, n: Int): Long = {
    val end = math.min(words.length, j + n)
    var h = Hashing.FnvOffset
    var i = j
    while (i < end) {
      if (i > j) {
        // the ' ' separator: low byte 0x20, high byte 0
        h ^= 0x20L; h *= Hashing.FnvPrime
        h *= Hashing.FnvPrime
      }
      val w = words(i)
      var c = 0
      while (c < w.length) {
        val ch = w.charAt(c)
        h ^= (ch & 0xff); h *= Hashing.FnvPrime
        h ^= ((ch >> 8) & 0xff); h *= Hashing.FnvPrime
        c += 1
      }
      i += 1
    }
    h
  }

  /** MinHash signature over word n-grams — the word-granularity twin of
    * [[minhash]], the shape LLM-corpus near-dedup uses (word shingles
    * are discriminative between unrelated documents where character
    * shingles are not, so LSH candidates stay near-duplicate-sized).
    */
  def minhashWords(text: UTF8String, n: Int, numHashes: Int, seed: Long): ArrayData = {
    val words = splitWords(text.toString)
    val nGrams = math.max(1, words.length - n + 1)
    val hs = new Array[Long](nGrams)
    var j = 0
    while (j < nGrams) { hs(j) = gramHash(words, j, n); j += 1 }
    minOverDistinct(hs, numHashes, seed)
  }

  /** Word n-gram set (distinct, sorted hashes) — exact-Jaccard
    * verification primitive at word granularity.
    */
  def wordShingleSet(text: UTF8String, n: Int): ArrayData = {
    val words = splitWords(text.toString)
    val nGrams = math.max(1, words.length - n + 1)
    val hs = new Array[Long](nGrams)
    var j = 0
    while (j < nGrams) { hs(j) = gramHash(words, j, n); j += 1 }
    sortedDistinct(hs)
  }
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimilarityKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.SimilarityKernels.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimilarityKernels.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.SimilarityKernels.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimilarityKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.SimilarityKernels.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class SignBuckets(child: Expression, planes: Int, tables: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_buckets"
  override protected def nullSafeEval(t: Any): Any =
    SimilarityKernels.signBuckets(t.asInstanceOf[ArrayData], planes, tables)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"org.apache.spark.sql.graft.SimilarityKernels.signBuckets($t, $planes, $tables)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class RandomProject(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "random_project"
  override protected def nullSafeEval(t: Any): Any =
    SimilarityKernels.randomProject(t.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"org.apache.spark.sql.graft.SimilarityKernels.randomProject($t, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class MinHashSignature(child: Expression, k: Int, numHashes: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  override protected def nullSafeEval(t: Any): Any =
    SimilarityKernels.minhash(t.asInstanceOf[UTF8String], k, numHashes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"org.apache.spark.sql.graft.SimilarityKernels.minhash($t, $k, $numHashes, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(t: Any): Any =
    SimilarityKernels.simhash(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"org.apache.spark.sql.graft.SimilarityKernels.simhash($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class RollingHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash64"
  override protected def nullSafeEval(t: Any): Any =
    SimilarityKernels.rollingHash(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"org.apache.spark.sql.graft.SimilarityKernels.rollingHash($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class Fnv64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv64"
  override protected def nullSafeEval(t: Any): Any =
    SimilarityKernels.fnv64(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"org.apache.spark.sql.graft.SimilarityKernels.fnv64($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class CdcBoundaries(child: Expression, w: Int, modulus: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_boundaries"
  override protected def nullSafeEval(t: Any): Any =
    SimilarityKernels.cdcBoundaries(t.asInstanceOf[UTF8String], w, modulus)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"org.apache.spark.sql.graft.SimilarityKernels.cdcBoundaries($t, $w, $modulus)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class FnvMix64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv_mix64"
  override protected def nullSafeEval(t: Any): Any =
    SimilarityKernels.fnvMix64(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"org.apache.spark.sql.graft.SimilarityKernels.fnvMix64($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class Fmix64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "fmix64"
  override protected def nullSafeEval(t: Any): Any =
    SimilarityKernels.mix64(t.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"org.apache.spark.sql.graft.SimilarityKernels.mix64($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class JumpHash(child: Expression, shards: Int) extends UnaryExpression with ExpectsInputTypes {
  require(shards >= 1, s"jump_hash needs shards >= 1, got $shards")
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "jump_hash"
  override protected def nullSafeEval(t: Any): Any =
    SimilarityKernels.jumpHash(t.asInstanceOf[Long], shards)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"org.apache.spark.sql.graft.SimilarityKernels.jumpHash($t, $shards)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class ShingleSet(child: Expression, k: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_set"
  override protected def nullSafeEval(t: Any): Any =
    SimilarityKernels.shingleSet(t.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"org.apache.spark.sql.graft.SimilarityKernels.shingleSet($t, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class MinHashWordSignature(child: Expression, n: Int, numHashes: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_words"
  override protected def nullSafeEval(t: Any): Any =
    SimilarityKernels.minhashWords(t.asInstanceOf[UTF8String], n, numHashes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"org.apache.spark.sql.graft.SimilarityKernels.minhashWords($t, $n, $numHashes, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class WordShingleSet(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingle_set"
  override protected def nullSafeEval(t: Any): Any =
    SimilarityKernels.wordShingleSet(t.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"org.apache.spark.sql.graft.SimilarityKernels.wordShingleSet($t, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-level API for the custom expressions. */
object GraftFunctions {
  import org.apache.spark.sql.classic.ExpressionUtils.{column, expression}
  def cosine_similarity(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
  def dot_product(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))
  /** |A ∩ B| of two sorted-distinct long arrays (the shingle-set
    * contract) — the allocation-free exact-Jaccard verify kernel.
    * NULL if either array is NULL; the arrays must hold no null
    * element (the shingle kernels' outputs never do).
    */
  def sorted_intersect_count(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
  def sign_buckets(emb: Column, planes: Int, tables: Int): Column =
    column(SignBuckets(expression(emb), planes, tables))
  def random_project(emb: Column, k: Int): Column =
    column(RandomProject(expression(emb), k))
  def minhash_signature(text: Column, k: Int = 5, numHashes: Int = 64,
                        seed: Long = 42L): Column =
    column(MinHashSignature(expression(text), k, numHashes, seed))
  def simhash64(text: Column): Column = column(SimHash64(expression(text)))
  def rolling_hash64(text: Column): Column = column(RollingHash64(expression(text)))
  def fnv64(text: Column): Column = column(Fnv64(expression(text)))
  def cdc_boundaries(text: Column, w: Int, modulus: Int): Column =
    column(CdcBoundaries(expression(text), w, modulus))
  def fnv_mix64(text: Column): Column = column(FnvMix64(expression(text)))
  def fmix64(v: Column): Column = column(Fmix64(expression(v)))
  def jump_hash(key: Column, shards: Int): Column =
    column(JumpHash(expression(key), shards))
  def shingle_set(text: Column, k: Int = 5): Column = column(ShingleSet(expression(text), k))
  def minhash_words(text: Column, n: Int = 3, numHashes: Int = 64,
                    seed: Long = 42L): Column =
    column(MinHashWordSignature(expression(text), n, numHashes, seed))
  def word_shingle_set(text: Column, n: Int = 3): Column =
    column(WordShingleSet(expression(text), n))
  def interleave_bits(y: Column, x: Column): Column =
    column(InterleaveBits(expression(y), expression(x)))
  def hilbert_key(y: Column, x: Column): Column =
    column(HilbertKey(expression(y), expression(x)))
  def nfc_normalize(text: Column): Column =
    column(NfcNormalize(expression(text)))
  def char_bigrams(text: Column): Column =
    column(CharBigrams(expression(text)))
  def char_entropy_stats(text: Column): Column =
    column(CharEntropyStats(expression(text)))
  /** Spark's own bloom-filter aggregate (the expression behind runtime
    * filter injection), exposed as a column: builds a broadcastable
    * binary sketch over an xxhash64-hashed LONG column.
    */
  def bloom_filter_agg(hashed: Column, estimatedItems: Long, numBits: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      expression(hashed),
      org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
      org.apache.spark.sql.catalyst.expressions.Literal(numBits)
    ).toAggregateExpression())
  /** Membership probe against a [[bloom_filter_agg]] sketch (codegen;
    * no false negatives).
    */
  def might_contain(bloom: Column, hashed: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      expression(bloom), expression(hashed)))
}
