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

  /** Each shuffle exchange `df` plans with AQE off, top-down, outside
    * broadcasts, through the planned sub-plan of a shared relation and
    * the plan of a cached one: "time" or "bucket" for a hash partitioning
    * on the time column or on a downsample's time bucket alone, "hash"
    * for any other, "range", and "gather" for a one-partition exchange.
    */
  def shuffleExchanges(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.graft.SharedPlan
    def walk(p: SparkPlan): Seq[String] = p match {
      case _: BroadcastExchangeExec => Nil
      case e: ShuffleExchangeExec =>
        (e.outputPartitioning match {
          case HashPartitioning(Seq(a: Attribute), _) if a.name == "time" => "time"
          case HashPartitioning(Seq(a: Attribute), _) if a.name == "_bucket" => "bucket"
          case _: HashPartitioning => "hash"
          case _: RangePartitioning => "range"
          case SinglePartition => "gather"
          case other => other.getClass.getSimpleName
        }) +: walk(e.child)
      case m: InMemoryTableScanExec => walk(m.relation.cacheBuilder.cachedPlan)
      case other => SharedPlan.subPlan(other).fold(other.children.flatMap(walk))(walk)
    }
    withoutAqe(walk(df.queryExecution.executedPlan))
  }

  /** The incremental operators' precondition: a slice reuses no corpus id. */
  def disjointIds(corpus: DataFrame, slice: DataFrame, id: String): Boolean =
    corpus.select(id).intersect(slice.select(id)).isEmpty
}
