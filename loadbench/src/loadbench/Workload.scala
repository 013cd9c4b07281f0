package loadbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Outcome of a workload's correctness checks, run after the timed
  * region on the outputs it produced. `failed` counts the timed
  * operations a failed check covers; `notes` says what failed.
  */
final case class CheckResult(failed: Int, notes: Seq[String])

/** One closed-loop workload. Inputs are generated from the seed in
  * [[setup]]; iteration `i` (warm-ups first, then the timed ones) uses
  * input `i` only, and every iteration does the same amount of work.
  */
trait Workload {
  /** Warm-up iterations run before every pass; they are never timed. */
  def warmups: Int
  /** Timed iterations per pass. */
  def iterations: Int
  /** Generate every input; returns (rows, bytes) generated. */
  def setup(): (Long, Long)
  /** Bring the program state back to where a pass starts. */
  def reset(): Unit = ()
  /** Run iteration `i`; returns named latency samples (ns) beyond the
    * iteration's own, e.g. the search batch of a maintenance slice.
    */
  def iteration(i: Int, tr: Tracer): Seq[(String, Long)]
  /** Files iteration `i` wrote (for bytes written to disk). */
  def outputsOf(i: Int): Seq[Path]
  /** Check the outputs of timed iterations `warmups until warmups +
    * iterations`.
    */
  def check(): CheckResult
  /** Bytes of user output of the timed iterations (the denominator of
    * write amplification); valid after [[check]].
    */
  def userBytes: Long
}

object FileTree {
  /** Total size of the regular files under `p` (0 if absent). */
  def size(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
