package graft.tools

import java.io.{File, PrintStream}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, ExplainUtils, FormattedMode, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graft.SharedPlan
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, EnvFilter, LocalSession, SparkEntry}

/** The profiling tool: runs `SparkEntry.queries` the way [[Bench]] times
  * them (its warm-up, then one `noop`-sink run per query) and reports the
  * work each run does.
  *
  * Usage: `runMain graft.tools.Profile <mode> [query ...]`; without query
  * names it takes SPARK_GRAFT_ONLY's. SPARK_GRAFT_SF_DIR names the
  * test-data directory and SPARK_GRAFT_CPUS the cores (default 4).
  *
  *   - `dump`, with AQE off (the benchmark's conf): every job the run
  *     started, the result's row count and hash, and every SQL execution
  *     with its node, Exchange and scan counts, its executed plan and its
  *     per-node row and time metrics. The `plans/` format.
  *   - `stages`: one line per run (wall, jobs, stages, tasks, task time)
  *     and, for the last of consecutive runs of a name, its 20 costliest
  *     stages. Repeat a name to get hot runs.
  *   - `explain`: the formatted physical plan of each query; runs nothing.
  *   - `request` (no query names, no test data): writes the small
  *     day-partitioned lake of [[LakeRequest]], runs one request to warm
  *     the session, the lake catalog and the codegen cache, and dumps a
  *     second request in the `dump` layout, with the classes it compiled.
  */
object Profile {

  /** A job as planned at its start: stage and task counts, and the call
    * site of its last stage; and how many of those stages, and of their
    * tasks, it skipped because their shuffle output was already written.
    */
  final case class Job(id: Int, stages: Int, tasks: Int, site: String,
                       skippedStages: Int = 0, skippedTasks: Int = 0)
  final case class Stage(name: String, tasks: Int, taskMs: Long,
                         deserMs: Long, runMs: Long, gcMs: Long)
  final case class Execution(action: String, qe: QueryExecution)
  final case class Record(jobs: Seq[Job], stages: Seq[Stage],
                          executions: Seq[Execution])

  /** `body`'s value and what it ran: its jobs in id order, its completed
    * stages, and its SQL executions in order. The listener bus is
    * drained before and after, so the record holds exactly the events
    * `body` caused.
    */
  def record[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[(Job, Seq[StageInfo])]
    val submitted = mutable.Set.empty[Int]
    val stages = mutable.ArrayBuffer.empty[Stage]
    val execs = mutable.ArrayBuffer.empty[Execution]
    val taskSums = mutable.Map.empty[(Int, Int), Array[Long]]
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += ((Job(e.jobId, e.stageInfos.size, e.stageInfos.map(_.numTasks).sum,
          e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name)), e.stageInfos))
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        jobs.synchronized { submitted += e.stageInfo.stageId }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null && e.taskMetrics != null) stages.synchronized {
          val m = e.taskMetrics
          val s = taskSums.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Long](4))
          s(0) += e.taskInfo.duration; s(1) += m.executorDeserializeTime
          s(2) += m.executorRunTime; s(3) += m.jvmGCTime
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.synchronized {
        val i = e.stageInfo
        val s = taskSums.getOrElse((i.stageId, i.attemptNumber()), new Array[Long](4))
        stages += Stage(i.name, i.numTasks, s(0), s(1), s(2), s(3))
      }
    }
    val executions = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        execs.synchronized { execs += Execution(action, qe) }
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
        execs.synchronized { execs += Execution(s"$action (failed)", qe) }
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(counter)
    spark.listenerManager.register(executions)
    try {
      val r = body
      ListenerBus.drain(sc)
      val ran = jobs.synchronized(jobs.sortBy(_._1.id).toSeq.map { case (j, infos) =>
        val skipped = infos.filterNot(i => submitted(i.stageId))
        j.copy(skippedStages = skipped.size, skippedTasks = skipped.map(_.numTasks).sum)
      })
      (r, Record(ran,
        stages.synchronized(stages.toSeq), execs.synchronized(execs.toSeq)))
    } finally {
      sc.removeSparkListener(counter)
      spark.listenerManager.unregister(executions)
    }
  }

  /** `body` run with AQE off, as the benchmark runs (a plan shows its
    * exchanges as planned); the session's setting is restored.
    */
  def withoutAqe[T](spark: SparkSession)(body: => T): T = {
    val aqe = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    try body
    finally saved.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val names = if (args.length > 1) args.toSeq.tail
      else EnvFilter.only.toSeq.flatMap(_.toSeq.sorted)
    val sfDir = if (mode == "request") "" else sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the test-data directory"))
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try {
      if (mode == "request") request(spark, System.out)
      else run(spark, sfDir, mode, names, System.out)
    } finally spark.stop()
  }

  /** Profile `names` on `spark` in `mode`, printing to `out`. The session
    * is left running.
    */
  def run(spark: SparkSession, sfDir: String, mode: String,
          names: Seq[String], out: PrintStream): Unit = {
    require(Seq("dump", "stages", "explain").contains(mode),
      s"mode must be dump, stages or explain, not '$mode'")
    require(names.nonEmpty, "name at least one query (or set SPARK_GRAFT_ONLY)")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    if (mode == "explain") names.foreach { n =>
      out.println(s"\n========== $n ==========")
      val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
      out.println(qe.explainString(FormattedMode))
      sharedIn(qe.executedPlan).foreach(p => out.println(sharedExplain(p)))
    } else {
      Bench.warmUp(spark, sfDir)
      if (mode == "dump") withoutAqe(spark)(names.foreach(dump(spark, sfDir, _, out)))
      else stages(spark, sfDir, names, out)
    }
  }

  private def dump(spark: SparkSession, sfDir: String, name: String,
                   out: PrintStream): Unit = {
    var result: DataFrame = null
    val (_, rec) = record(spark)(Bench.once(spark, sfDir, name,
      (s, d) => { result = SparkEntry.queries(name)(s, d); result }))
    require(result != null, s"$name failed to build")
    val rows = result.collect().map(_.toString).sorted
    val testdata = new File(sfDir).getAbsoluteFile.getParent
    def clean(s: String): String =
      s.replaceAll("#\\d+", "").replace(testdata, "<testdata>")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    out.println(s"""# $name at ${new File(sfDir).getName}, written by graft.tools.Profile dump.
      |# ${spark.sparkContext.master}, $parts shuffle partitions, AQE off (the benchmark's conf).
      |# Every job the query started from its construction through one noop-sink run
      |# (Bench's run), in order: stages and tasks as planned at job start, the call site
      |# of its last stage, and the stages it skipped (shuffle output already written).
      |# Then the result's row count and the hash of its sorted rows (one more, uncounted
      |# collect). Then every SQL execution in order: its node, Exchange and data-source
      |# scan counts (subqueries, cached relations and shared sub-plans included; a shared
      |# sub-plan is counted and shown once, after the first execution that reads it), its
      |# executed plan (expression ids stripped) and each node's nonzero row and time metrics.
      |# <testdata> is the test-data directory.
      |
      |== $name: ${rec.jobs.size} jobs ==""".stripMargin)
    printJobs(rec, out)
    out.println(s"result: ${rows.length} rows, sha256 of sorted rows ${sha16(rows)}")
    printExecutions(rec, clean, out)
  }

  /** The first 16 hex digits of the SHA-256 of `lines`, newline-joined. */
  private def sha16(lines: Array[String]): String =
    MessageDigest.getInstance("SHA-256").digest(lines.mkString("\n").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** One line per job: planned stages and tasks, the call site of its
    * last stage, and what it skipped.
    */
  private def printJobs(rec: Record, out: PrintStream): Unit =
    rec.jobs.zipWithIndex.foreach { case (j, i) =>
      val skipped = if (j.skippedStages == 0) ""
        else s" skipped: ${j.skippedStages} stages, ${j.skippedTasks} tasks"
      out.println(f"job ${i + 1}%2d: stages=${j.stages} tasks=${j.tasks} site=${j.site}$skipped")
    }

  /** Every SQL execution of `rec`: counts, formatted plan (through
    * `clean`), each shared sub-plan after the first execution that reads
    * it, and per-node metrics.
    */
  private def printExecutions(rec: Record, clean: String => String, out: PrintStream): Unit = {
    val shared = mutable.ArrayBuffer.empty[SparkPlan]
    val walked = rec.executions.map { e =>
      val before = shared.size
      val ns = nodes(e.qe.executedPlan, shared)
      (e, ns, shared.drop(before).toSeq)
    }
    out.println(s"\n== executed plans: ${walked.size} SQL executions, " +
      counts(walked.flatMap(_._2.map(_._2))) + " ==")
    walked.zipWithIndex.foreach { case ((e, ns, firstRead), i) =>
      out.println(s"---- execution ${i + 1}: ${e.action}: ${counts(ns.map(_._2))} ----")
      out.println(clean(e.qe.explainString(FormattedMode)))
      firstRead.foreach(p => out.println(clean(sharedExplain(p))))
      out.println("---- metrics ----")
      ns.foreach { case (depth, p) =>
        val ms = metrics(p)
        out.println("  " * depth + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else ""))
      }
    }
  }

  /** The `request` mode: a warm [[LakeRequest]] in the `dump` layout. */
  def request(spark: SparkSession, out: PrintStream): Unit = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = LakeRequest.lake(spark)
    withoutAqe(spark) {
      LakeRequest(spark, dir, 0)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (lines, rec) = record(spark)(LakeRequest(spark, dir, 1, LakeRequest.OtherBox,
        LakeRequest.OtherWindow, LakeRequest.OtherStations))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
      val table = spark.read.parquet(s"$dir/out/req=1.parquet").collect().map(_.toString).sorted
      val parts = spark.conf.get("spark.sql.shuffle.partitions")
      val st = rec.stages
      out.println(s"""# One warm analyst-path request (graft.tools.LakeRequest), written by
        |# graft.tools.Profile request. Lake: the synthetic grid as Parquet, partitioned by day.
        |# Request: bbox ${LakeRequest.OtherBox}, ${LakeRequest.OtherWindow._1} to
        |# ${LakeRequest.OtherWindow._2}, t2m+u100 -> LakeAdapter.load -> SpatialResample.bilinear x2
        |# -> TemporalResample.downsample 6 hours mean -> PointExtract.pointsToTable (TableSink.write)
        |# -> Gssha.wesRows collect. ${spark.sparkContext.master}, $parts shuffle partitions, AQE off
        |# (the benchmark's conf). Recorded around the SECOND request (the first, over another
        |# bbox, window and station set, warms the session, the lake catalog and the codegen
        |# cache): every job it started (stages and tasks as planned at job start,
        |# the call site of its last stage, the stages it skipped because their shuffle output
        |# was already written), the stages it ran, the classes it compiled
        |# (CodegenMetrics.METRIC_COMPILATION_TIME delta), the hash of its sorted table rows
        |# and WES lines, then every SQL execution as `dump` prints it. <work> is the directory
        |# the lake was written to.
        |
        |== request: ${rec.jobs.size} jobs, ${st.size} stages run, ${st.map(_.tasks).sum} tasks run, $compiles classes compiled ==""".stripMargin)
      printJobs(rec, out)
      st.foreach(x => out.println(f"  stage: tasks=${x.tasks}%2d  ${x.name}"))
      out.println(s"result: ${table.length} table rows, ${lines.length} WES lines, " +
        s"sha256 of both ${sha16(table ++ lines)}")
      printExecutions(rec, _.replaceAll("#\\d+", "").replace(dir, "<work>"), out)
    }
  }

  /** Every node of `plan` with its depth, as the formatted plan shows
    * them (whole-stage codegen wrappers skipped): children, subqueries,
    * the plan inside each cached relation, once per relation, and the
    * planned sub-plan of each [[SharedPlan]] relation not in `shared`
    * yet (added), so a sub-plan every action reads is walked once.
    */
  private[graft] def nodes(plan: SparkPlan,
                           shared: mutable.ArrayBuffer[SparkPlan]): Seq[(Int, SparkPlan)] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan, depth: Int): Seq[(Int, SparkPlan)] = p match {
      case _: WholeStageCodegenExec | _: InputAdapter => p.children.flatMap(walk(_, depth))
      case _ =>
        val inner = p match {
          case im: InMemoryTableScanExec
              if seen.add(im.relation.cacheBuilder.cachedPlan) =>
            Seq(im.relation.cacheBuilder.cachedPlan)
          case _ =>
            val first = SharedPlan.subPlan(p).filterNot(sp => shared.exists(_ eq sp)).toSeq
            shared ++= first
            first
        }
        (depth, p) +: (p.children ++ p.subqueries ++ inner).flatMap(walk(_, depth + 1))
    }
    walk(plan, 0)
  }

  /** The planned sub-plans of the [[SharedPlan]] relations an unexecuted
    * `plan` reads, inside an adaptive plan's initial plan too.
    */
  private def sharedIn(plan: SparkPlan): Seq[SparkPlan] = plan.flatMap {
    case a: AdaptiveSparkPlanExec => sharedIn(a.executedPlan)
    case p => SharedPlan.subPlan(p).toSeq
  }.distinct

  /** A shared sub-plan in the formatted-explain layout, numbered apart. */
  private def sharedExplain(p: SparkPlan): String = {
    val sb = new StringBuilder
    ExplainUtils.processPlan[SparkPlan](p, s => sb.append(s))
    "---- shared sub-plan (planned once; its stages run in the first action " +
      "that reads it, later actions skip them) ----\n" + sb.toString
  }

  private[graft] def counts(ps: Seq[SparkPlan]): String = {
    val scans = ps.count {
      case _: DataSourceScanExec | _: BatchScanExec => true
      case _ => false
    }
    s"${ps.size} nodes, ${ps.count(_.isInstanceOf[Exchange])} exchanges, $scans scans"
  }

  /** A node's nonzero row-count and timing metrics. */
  private def metrics(p: SparkPlan): String =
    p.metrics.toSeq.sortBy(_._1).collect {
      case (k, m) if m.value > 0 && (m.metricType == "timing" ||
          m.metricType == "nsTiming" || m.name.exists(n =>
            n.contains("time") || n.contains("rows") || n.contains("duration"))) =>
        val v = m.metricType match {
          case "nsTiming" => s"${m.value / 1000000} ms"
          case "timing" => s"${m.value} ms"
          case _ => m.value.toString
        }
        s"$k=$v"
    }.mkString(", ")

  private def stages(spark: SparkSession, sfDir: String, names: Seq[String],
                     out: PrintStream): Unit =
    names.zipWithIndex.foreach { case (name, i) =>
      val (wall, rec) = record(spark)(
        Bench.once(spark, sfDir, name, SparkEntry.queries(name)))
      val st = rec.stages
      def secs(f: Stage => Long): String = "%.2f".format(st.map(f).sum / 1000.0)
      out.println(f"[stages] $name run=${i + 1} wall=$wall%.3f jobs=${rec.jobs.size} " +
        s"stages=${st.size} tasks=${st.map(_.tasks).sum} taskTime=${secs(_.taskMs)} s " +
        s"deser=${secs(_.deserMs)} s run=${secs(_.runMs)} s gc=${secs(_.gcMs)} s")
      if (i == names.size - 1 || names(i + 1) != name)
        st.sortBy(-_.taskMs).take(20).foreach { s =>
          out.println(f"  ${s.taskMs / 1000.0}%8.2f s (deser=${s.deserMs / 1000.0}%6.2f " +
            f"run=${s.runMs / 1000.0}%7.2f gc=${s.gcMs / 1000.0}%5.2f) tasks=${s.tasks}%4d  " +
            s.name.take(60))
        }
    }
}
