package org.apache.spark.sql.graft

import org.apache.spark.{Dependency, OneToOneDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, RDDScanExec, SparkPlan}

/** A relation planned once and read by every action over it.
  *
  * [[apply]] plans `df` to a physical plan and returns a relation over
  * that plan's RDD instead of over its logical plan, so every later
  * action reads the same RDD lineage. When `df` ends in a shuffle, the
  * first action writes its map output and Spark skips that stage in
  * every later action: the sub-plan's scan and exchange run once
  * however many sinks read it. Nothing is persisted: the shuffle lives
  * as long as the returned relation is reachable, and the ContextCleaner
  * removes it afterwards, like any other shuffle.
  *
  * The sub-plan is planned without adaptive execution (an adaptive plan
  * materializes its query stages when asked for its RDD), so building
  * the relation runs no job with AQE on or off. The sub-plan's RDD is
  * made, and its generated code compiled on the driver, when the first
  * action over the relation asks for it, so a relation no action reads
  * costs its planning and nothing more. The relation declares the
  * partitioning the RDD has and keeps the optimized plan's statistics
  * and constraints, so the plan above it is planned as it was over
  * `df`: a hash partitioning that satisfied an aggregate above still
  * does, and no exchange is added. What it gives up is pushdown:
  * filters and column pruning above the relation no longer reach the
  * sub-plan's scan.
  */
object SharedPlan {

  /** The sub-plan's RDD, keeping the plan it came from (not shipped to
    * tasks) so that plan tools can show what the relation runs. The plan
    * is executed (its RDD made, its generated code compiled) the first
    * time the scheduler asks for this RDD's partitions or dependencies.
    */
  private final class PlannedRDD(@transient val plan: SparkPlan,
                                 @transient session: SparkSession)
      extends RDD[InternalRow](session.sparkContext, Nil) {
    @transient private lazy val executed = session.withActive(plan.execute())
    override protected def getDependencies: Seq[Dependency[_]] =
      Seq(new OneToOneDependency(executed))
    override protected def getPartitions: Array[Partition] = executed.partitions
    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      firstParent[InternalRow].iterator(split, context)
  }

  def apply(df: DataFrame): DataFrame = {
    val session = ClassicConversions.castToImpl(df.sparkSession)
    session.withActive {
      val optimized = df.queryExecution.optimizedPlan
      val plan = QueryExecution.prepareExecutedPlan(session, optimized)
      val node = LogicalRDD(optimized.output, new PlannedRDD(plan, session),
        plan.outputPartitioning, plan.outputOrdering)(
        session, Some(optimized.stats), Some(optimized.constraints))
      Dataset.ofRows(session, node)
    }
  }

  /** The planned sub-plan a physical node reads, when it is the scan of
    * a relation from [[apply]].
    */
  def subPlan(p: SparkPlan): Option[SparkPlan] = p match {
    case s: RDDScanExec => s.rdd match {
      case r: PlannedRDD => Some(r.plan)
      case _ => None
    }
    case _ => None
  }
}
