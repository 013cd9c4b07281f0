package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per forked test JVM). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
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
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBus.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `body` run with AQE off, as the benchmark runs (a plan built inside
    * shows its exchanges as planned); the session's setting is restored.
    */
  def withoutAqe[T](body: => T): T = {
    val aqe = "spark.sql.adaptive.enabled"
    val savedAqe = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    try body
    finally savedAqe.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
  }

  /** The incremental operators' precondition: a slice reuses no corpus id. */
  def disjointIds(corpus: DataFrame, slice: DataFrame, id: String): Boolean =
    corpus.select(id).intersect(slice.select(id)).isEmpty
}
