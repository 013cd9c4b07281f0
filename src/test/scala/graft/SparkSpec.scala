package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per forked test JVM). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = LocalSession(4)
    // specs log at ERROR: the expected-failure specs would fill the
    // test output with their warnings
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** `body`'s value and the number of Spark jobs it started, counted as
    * the benchmark counts them: with AQE off, so a shuffle stage runs
    * inside its action's job instead of as a job of its own. The
    * session's AQE setting is restored afterwards.
    */
  def countingJobs[T](body: => T): (T, Int) = withoutAqe {
    val (r, rec) = graft.tools.Profile.record(spark)(body)
    (r, rec.jobs.size)
  }

  /** `body` run with AQE off, as the benchmark runs (a plan built inside
    * shows its exchanges as planned); the session's setting is restored.
    */
  def withoutAqe[T](body: => T): T = graft.tools.Profile.withoutAqe(spark)(body)

  /** The incremental operators' precondition: a slice reuses no corpus id. */
  def disjointIds(corpus: DataFrame, slice: DataFrame, id: String): Boolean =
    corpus.select(id).intersect(slice.select(id)).isEmpty
}
