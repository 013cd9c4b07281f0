package loadbench

import java.util.SplittableRandom

/** Generated documents. Words are random lowercase strings, so two
  * unrelated documents share almost no 5-character shingles, and a
  * near copy (a few words replaced) keeps a shingle Jaccard near 0.9 —
  * far from the 0.8 threshold on both sides. Stopwords are mixed in so
  * every document passes the Gopher rules.
  */
object Text {
  val WordsPerDoc = 60
  /** Words a near copy replaces (at distinct, spread positions): one
    * edit keeps Jaccard near 0.95 to the original and near 0.9 between
    * two copies editing different words.
    */
  val Edits = 1
  private val Stop = Array("the", "of", "and", "to", "with", "that")

  def word(r: SplittableRandom): String = {
    val n = 3 + r.nextInt(6)
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb.append(('a' + r.nextInt(26)).toChar))
    sb.toString
  }

  def doc(r: SplittableRandom): String =
    (0 until WordsPerDoc).map(k =>
      if (k % 7 == 3) Stop(r.nextInt(Stop.length)) else word(r)).mkString(" ")

  /** `text` with [[Edits]] words replaced; `slot` picks which positions,
    * so two copies with different slots edit different words.
    */
  def nearCopy(text: String, slot: Int, r: SplittableRandom): String = {
    val ws = text.split(" ")
    (0 until Edits).foreach { e =>
      val pos = (slot * 17 + e * 41 + 5) % ws.length
      ws(pos) = word(r) + "q"
    }
    ws.mkString(" ")
  }

  /** A unit vector of `dim` floats. */
  def embedding(r: SplittableRandom, dim: Int): Array[Float] = {
    val v = Array.fill(dim)(r.nextDouble() * 2 - 1)
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
}
