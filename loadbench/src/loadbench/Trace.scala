package loadbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Spark work counted by the listener: one bucket per job group, plus
  * the session total. Jobs are attributed through the job group that
  * [[Tracer]] sets around each traced call; untraced jobs land in "".
  */
final class Counters extends SparkListener {
  final class C {
    var jobs = 0L; var tasks = 0L; var recordsRead = 0L
    var shuffleBytes = 0L; var spillMemBytes = 0L; var spillDiskBytes = 0L
    def toMap: Map[String, Long] = Map("jobs" -> jobs, "tasks" -> tasks,
      "records_read" -> recordsRead, "shuffle_bytes" -> shuffleBytes,
      "spill_mem_bytes" -> spillMemBytes, "spill_disk_bytes" -> spillDiskBytes)
  }

  private val groups = mutable.HashMap.empty[String, C]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val total = new C

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    groups.getOrElseUpdate(g, new C).jobs += 1
    total.jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val cs = Seq(total, groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new C))
    val m = e.taskMetrics
    cs.foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.recordsRead += m.inputMetrics.recordsRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillMemBytes += m.memoryBytesSpilled
        c.spillDiskBytes += m.diskBytesSpilled
      }
    }
  }

  /** Session totals; call after [[org.apache.spark.loadbench.Bus.drain]]. */
  def totals: Map[String, Long] = synchronized(total.toMap)
  def group(id: String): Map[String, Long] =
    synchronized(groups.get(id).map(_.toMap).getOrElse(new C().toMap))
}

object Gc {
  /** Accumulated collection time of every collector, in ms. */
  def ms(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** One recorded span: a call into a repo module, or an iteration (the
  * root, parent 0). Times are `System.nanoTime`; gc is the JVM's
  * collection time over the span; rows is the row count of the forced
  * output (-1 when the call returns no DataFrame).
  */
final case class SpanRec(id: Long, parent: Long, name: String, iter: Int,
                         startNs: Long, endNs: Long, gcMs: Long, rows: Long)

/** Spans around the benchmark's calls into `sources`, `operators` and
  * `ops`. Off, it only runs the call. On, it sets a job group per span
  * (so [[Counters]] attributes the call's jobs to it) and forces the
  * call's output inside the span, so the span covers the call's work
  * and later spans read the forced result instead of recomputing it.
  * Spans stay in memory until the run writes them out.
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val held = mutable.ArrayBuffer.empty[DataFrame]
  private var stack = List.empty[(Long, String)]
  private var nextId = 1L
  private var lastRows = -1L
  var iter: Int = -1

  def span[T](name: String)(body: => T)(force: T => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      stack = (id, name) :: stack
      sc.setJobGroup(s"span-$id", name)
      lastRows = -1L
      val gc0 = Gc.ms()
      val t0 = System.nanoTime()
      try force(body)
      finally {
        val t1 = System.nanoTime()
        spans += SpanRec(id, parent, name, iter, t0, t1, Gc.ms() - gc0, lastRows)
        lastRows = -1L
        stack = stack.tail
        stack.headOption match {
          case Some((p, n)) => sc.setJobGroup(s"span-$p", n)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** A span whose result needs no forcing (an action, or the root). */
  def run[T](name: String)(body: => T): T = span(name)(body)(identity)

  /** A span around a call that returns a lazy DataFrame. */
  def df(name: String)(body: => DataFrame): DataFrame = span(name)(body)(materialize)

  /** Force `d` and keep the forced copy until [[release]]. */
  def materialize(d: DataFrame): DataFrame = {
    val p = d.persist(StorageLevel.MEMORY_AND_DISK)
    lastRows = p.count()
    held += p
    p
  }

  /** Drop everything [[materialize]] holds (end of an iteration). */
  def release(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }
}
