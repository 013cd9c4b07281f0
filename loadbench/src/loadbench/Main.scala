package loadbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.loadbench.Bus
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up the workload, run an untraced
  * pass (the end-to-end numbers), check its outputs, optionally run a
  * traced pass over the same inputs (the per-layer numbers), and write
  * the raw samples, spans and counters as JSON for run.py.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --cores <k> --work <dir> --out <file>
  */
object Main {

  /** The benchmark's fixed Spark conf, recorded with each result. AQE
    * is off and shuffle partitions are fixed so every iteration runs
    * the same tasks; no checkpoint dir, so checkpoints stay local.
    */
  def sparkConf(work: Path): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.ui.enabled" -> "false",
    "spark.ui.showConsoleProgress" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)

  /** Timed iterations for a run of `seconds`: a fixed count per second
    * of run time, so the work is fixed by the arguments and not by the
    * machine's speed (the rates fit a 4-core local[4] box).
    */
  def iterationsFor(workload: String, seconds: Int): Int = {
    val perSecond = workload match {
      case "grid_to_table" => 0.5
      case "curate_corpus" => 0.125
      case "maintain_index" => 0.25
    }
    math.max(2, math.ceil(seconds * perSecond).toInt)
  }

  final case class Pass(runNs: Long, cpuNs: Long, samples: Map[String, Seq[Long]],
                        counters: Map[String, Long], heldPerIteration: Seq[Int],
                        setupEndMs: Long)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val trace = o("trace") == "1"
    val cores = o("cores").toInt
    val work = Paths.get(o("work")).toAbsolutePath
    val iterations = iterationsFor(workload, o("seconds").toInt)
    val conf = sparkConf(work)
    val spark = conf.foldLeft(SparkSession.builder().master(s"local[$cores]"))(
      (b, kv) => b.config(kv._1, kv._2)).getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val counters = new Counters
    sc.addSparkListener(counters)
    val sessionMs = System.currentTimeMillis()

    val wl: Workload = workload match {
      case "grid_to_table" => new GridToTable(spark, seed, iterations, work)
      case "curate_corpus" => new CurateCorpus(spark, seed, iterations, work)
      case "maintain_index" => new MaintainIndex(spark, seed, iterations, work)
    }
    val (inputRows, inputBytes) = wl.setup()
    val inputsMs = System.currentTimeMillis()
    val timed = wl.warmups until wl.warmups + iterations

    val untraced = pass(spark, wl, counters, traced = false)._1
    val check = wl.check()
    val fileBytes = timed.flatMap(wl.outputsOf).map(FileTree.size).sum
    val written = fileBytes + untraced.counters("shuffle_bytes") +
      untraced.counters("spill_disk_bytes")
    val tracedRun = if (trace) Some(pass(spark, wl, counters, traced = true)) else None

    val storage = sc.getRDDStorageInfo
    val held = Map(
      "rdds" -> storage.length.toLong,
      "blocks" -> storage.map(_.numCachedPartitions.toLong).sum,
      "bytes" -> storage.map(s => s.memSize + s.diskSize).sum)
    System.gc()
    System.gc()
    val heapLive = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    def passJson(p: Pass) = Map(
      "run_ns" -> p.runNs, "cpu_ns" -> p.cpuNs, "samples" -> p.samples,
      "counters" -> p.counters, "held_per_iteration" -> p.heldPerIteration)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "seed" -> seed,
      "iterations" -> iterations,
      "warmups" -> wl.warmups,
      "cores" -> cores,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ms" -> sessionMs,
      "inputs_ms" -> inputsMs,
      "setup_end_ms" -> untraced.setupEndMs,
      "input_rows" -> inputRows,
      "input_bytes" -> inputBytes,
      "untraced" -> passJson(untraced),
      "check" -> Map("attempted" -> iterations, "failed" -> math.min(check.failed, iterations),
        "notes" -> check.notes),
      "written_bytes" -> written,
      "user_bytes" -> wl.userBytes,
      "held_end" -> held,
      "heap_live_bytes" -> heapLive,
      "vm_hwm_kb" -> vmHwmKb(),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "spark_conf" -> (conf :+ ("spark.master" -> s"local[$cores]")).toMap)
    tracedRun.foreach { case (p, tr) =>
      result("traced") = passJson(p)
      result("spans") = tr.spans.map(s =>
        Seq(s.id, s.parent, s.name, s.iter, s.startNs, s.endNs, s.gcMs, s.rows))
      result("span_counters") = tr.spans.map(s => s.id.toString -> counters.group(s"span-${s.id}")).toMap
    }
    Files.write(Paths.get(o("out")), Json.render(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Warm-ups (untimed, untraced), then the timed iterations. Each
    * iteration ends by releasing what it cached: the tracer's forced
    * results, and the persists the curation operators leave to their
    * caller (their documented contract is that the caller clears the
    * cache once downstream results are materialized).
    */
  def pass(spark: SparkSession, wl: Workload, counters: Counters,
           traced: Boolean): (Pass, Tracer) = {
    val sc = spark.sparkContext
    def endIteration(tr: Tracer): Int = {
      val held = sc.getPersistentRDDs.size
      tr.release()
      spark.catalog.clearCache()
      held
    }
    wl.reset()
    val off = new Tracer(sc, on = false)
    (0 until wl.warmups).foreach { i => probe(spark); wl.iteration(i, off); endIteration(off) }
    // start every timed region from a collected heap
    System.gc()
    Bus.drain(sc)
    val c0 = counters.totals
    val tr = new Tracer(sc, traced)
    val samples = mutable.LinkedHashMap("iter" -> mutable.ArrayBuffer.empty[Long],
      "probe" -> mutable.ArrayBuffer.empty[Long])
    val held = mutable.ArrayBuffer.empty[Int]
    var probeCpu = 0L
    val setupEndMs = System.currentTimeMillis()
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    (wl.warmups until wl.warmups + wl.iterations).foreach { i =>
      tr.iter = i
      val pc = cpuNs()
      samples("probe") += probe(spark)
      samples("probe") += probe(spark)
      probeCpu += cpuNs() - pc
      val s = System.nanoTime()
      val extra = tr.run("iteration")(wl.iteration(i, tr))
      held += endIteration(tr)
      samples("iter") += System.nanoTime() - s
      extra.foreach { case (k, ns) => samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ns }
    }
    val runNs = System.nanoTime() - t0 - samples("probe").sum
    val cpu = cpuNs() - cpu0 - probeCpu
    Bus.drain(sc)
    val c1 = counters.totals
    (Pass(runNs, cpu, samples.map { case (k, v) => k -> v.toSeq }.toMap,
      c1.map { case (k, v) => k -> (v - c0(k)) }, held.toSeq, setupEndMs), tr)
  }

  /** A fixed Spark job that uses no graft code, timed twice before
    * every iteration (and excluded from the timed region): it slows with
    * the box (CPU steal, contended caches) but not with the program, so
    * run time over probe time tracks the program on a noisy box.
    */
  def probe(spark: SparkSession): Long = {
    val t = System.nanoTime()
    spark.range(0, 400000, 1, 2).selectExpr("id % 97 as k", "id * 3 as v")
      .groupBy("k").sum("v").collect()
    System.nanoTime() - t
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}
