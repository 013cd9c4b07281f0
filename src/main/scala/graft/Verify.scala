package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q28_set_ops,n64_slice_diff restricts the dump
    // (and the oracle_sql manifest below, so check_oracle.py compares
    // only what ran) — the EnvFilter local-iteration contract shared
    // with Bench; unknown names fail fast instead of producing a
    // vacuously green gate. Driver runs leave it unset.
    EnvFilter.validate(SparkEntry.queries.keySet)
    def selected(name: String): Boolean = EnvFilter.selected(name)
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // subset marker: tells check_oracle.py to skip rows-only accounting
    // (stale dirs from a previous full run would otherwise be
    // miscounted as rows-only coverage); deleted on full runs
    val marker = Paths.get(s"$outDir/subset.txt")
    if (EnvFilter.only.isDefined)
      Files.writeString(marker, EnvFilter.only.get.toSeq.sorted.mkString("\n"))
    else Files.deleteIfExists(marker)
    spark.stop()
  }
}
