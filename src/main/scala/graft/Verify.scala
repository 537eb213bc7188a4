package graft
import java.nio.file.{Files, Paths}
import graft.util.Sessions
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (dev only)]
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = Sessions.local(Sessions.envCores, 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // per-query watchdog: one pathological query must not take down the
    // whole correctness run — cancel its job group after the timeout and
    // move on (the driver still gets every other query's dump)
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "600").toLong
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val worker = new Thread(() =>
        try {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name.parquet")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally spark.sparkContext.clearJobGroup())
      worker.setDaemon(true)
      worker.start()
      worker.join(timeoutSec * 1000)
      if (worker.isAlive) {
        System.err.println(s"[verify] $name timed out after ${timeoutSec}s — cancelling")
        spark.sparkContext.cancelJobGroup(name)
        worker.join(30000)
      }
      // release any caches the query persisted (q89/q92/q124/q126):
      // queries are self-contained, and a full-surface run must not
      // accumulate session-lifetime block-manager storage
      spark.catalog.clearCache()
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
    // Emit each oracle under BOTH keys: the bare query name and the
    // name with the ".parquet" suffix. The driver looks results up by
    // dump file name (including suffix); round 1 recorded 0/38 with
    // err:"no_oracle" because only bare keys were written.
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
