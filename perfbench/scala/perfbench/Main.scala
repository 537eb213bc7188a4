package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` builds this package, launches it
  * once per run and turns the raw record it writes into metrics:
  *
  * {{{
  * java ... perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <out.json>
  * }}}
  *
  * The raw record holds what was measured (times as epoch milliseconds,
  * counts, per-batch progress) and the outcome of the output check; the
  * arithmetic that turns it into percentiles and rates lives in
  * `benchlib.py`, where its tests are.
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      workDir: Path,
      out: Path)

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6,
      "usage: perfbench.Main <workload> <seed> <seconds> <trace> <workDir> <out.json>")
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      Paths.get(argv(4)), Paths.get(argv(5)))
    Files.createDirectories(a.workDir)
    val tracer = new Tracer(a.trace, s"${a.workload}-${a.seed}")
    val record: Map[String, Any] = a.workload match {
      case "mood_stream" => MoodStreamBench.run(a, tracer)
      case "mood_batch" => MoodBatchBench.run(a, tracer)
      case "curation_store" => CurationStoreBench.run(a, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spans =
      if (a.trace) {
        val p = a.workDir.resolve("spans.json")
        tracer.write(p)
        Map("spans_file" -> p.toString)
      } else Map.empty[String, Any]
    Files.writeString(a.out,
      Json.render(record ++ spans + ("peak_rss_mb" -> Rss.peakMb())))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The session `graft.Bench.main` builds (`local[$SPARK_GRAFT_CPUS]`,
    * 32 shuffle partitions, UTC, nanosAsLong, UI off), with Spark's
    * scratch space kept inside `workDir`. `partitions` differs from 32
    * only where a workload's rationale says so.
    */
  def session(workDir: Path, cpus: Int, partitions: Int = 32): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", workDir.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Closed-loop workloads run passes until the measured seconds are up
    * and at least this many have run, and report medians over them. The
    * first pass after the warm-up still runs up to 1.4x slower; with one
    * or two passes it set the figure.
    */
  val MinPasses = 3

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Wall seconds of `body`, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Peak resident memory of this process (VmHWM), in MB. */
object Rss {
  def peakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for the raw record (maps, sequences, numbers,
  * strings, booleans, options).
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
