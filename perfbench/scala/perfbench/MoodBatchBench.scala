package perfbench

import java.nio.file.Path
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.{BatchSink, NdjsonSink, ParquetSink, ParquetSource}
import graft.pipeline.{Backfill, ExportPipeline, PipelineRunner, QualityCheck, SummaryPipeline}

/** `mood_batch`: a closed loop, one client, over the reference's batch
  * DAG chain run as one `PipelineRunner.Pipeline`: `Backfill.run` into an
  * NDJSON sink, `ExportPipeline.loadNdjson` into a parquet sink,
  * `QualityCheck.run`, and `SummaryPipeline.daily` for every backfilled
  * day. The next pass starts when the previous one has finished.
  */
object MoodBatchBench {

  /** Stated input size: `Days` x `RowsPerDay` backfilled mood rows. */
  val Days = 5
  val RowsPerDay = 5000
  val WarmupPasses = 2
  val EndDay: LocalDate = LocalDate.of(2025, 6, 20)
  val Required = Seq("event_time", "intersection", "avg_speed", "avg_temp",
    "weather", "sentiment", "mood")

  /** What one pass produced, for the check. */
  final class PassOutput {
    var backfilled = 0L
    var export: Option[ExportPipeline.ExportResult] = None
    var quality: Option[QualityCheck.Report] = None
    val summaries = ArrayBuffer.empty[(LocalDate, Seq[Seq[Any]])]
    val taskSeconds = ArrayBuffer.empty[(String, Double)]
  }

  /** Spans the benchmark's calls into the io layer. */
  final class TracedSink(inner: BatchSink, name: String, tracer: Tracer) extends BatchSink {
    def write(df: DataFrame): Unit = tracer.span(name)(inner.write(df))
  }

  def pipeline(spark: SparkSession, dir: Path, seed: Long, tracer: Tracer,
      out: PassOutput): PipelineRunner.Pipeline = {
    import PipelineRunner.Task
    val ndjson = dir.resolve("export.ndjson").toString
    val parquet = dir.resolve("mood.parquet").toString
    def task(name: String, deps: Seq[String])(body: => Unit): Task =
      Task(name, deps) { () =>
        val (_, s) = Main.timed(tracer.span(s"pipeline.$name")(body))
        out.taskSeconds += name -> s
      }
    val days = (0 until Days).map(i => EndDay.minusDays(i.toLong))
    PipelineRunner.Pipeline("mood_batch", Seq(
      task("backfill", Nil) {
        out.backfilled = Backfill.run(spark,
          new TracedSink(new NdjsonSink(ndjson), "io.ndjson_write", tracer),
          EndDay, Days, RowsPerDay, RowsPerDay, seed)
      },
      task("export_load", Seq("backfill")) {
        out.export = Some(ExportPipeline.loadNdjson(spark, ndjson,
          new TracedSink(new ParquetSink(parquet), "io.parquet_write", tracer)))
      },
      task("quality", Seq("export_load")) {
        val report = QualityCheck.run(new ParquetSource(parquet).read(spark), Required)
        out.quality = Some(report)
        require(report.passed, s"quality gate failed: $report")
      }) ++ days.map(day =>
      task(s"summary_$day", Seq("quality")) {
        out.summaries += day -> SummaryPipeline.daily(spark, new ParquetSource(parquet), day)
          .collect().map(_.toSeq).toSeq
      }))
  }

  /** One pass over fresh output directories; the clean-up is not timed. */
  def pass(spark: SparkSession, a: Main.Args, tracer: Tracer, k: Int):
      (PipelineRunner.RunReport, PassOutput, Double) = {
    val dir = a.workDir.resolve(s"pass-$k")
    graft.io.Sinks.truncatePath(spark, dir.toString)
    val out = new PassOutput
    val (report, s) = Main.timed(tracer.span("mood_batch.pass")(
      pipeline(spark, dir, a.seed, tracer, out).run()))
    (report, out, s)
  }

  def run(a: Main.Args, tracer: Tracer): Map[String, Any] = {
    val spark = tracer.span("spark.session")(Main.session(a.workDir, Main.cpus))
    val taskLog = if (a.trace) Some(new TaskLog) else None
    taskLog.foreach(spark.sparkContext.addSparkListener)
    // set-up: untimed passes, so JIT and codegen caches are warm; after
    // one, the timed passes still ran 5.2, 4.5 and 3.6 s in turn
    (1 to WarmupPasses).foreach(_ => tracer.span("warmup")(pass(spark, a, tracer, 0)))

    val startMs = Clock.now()
    val passes = ArrayBuffer.empty[(PipelineRunner.RunReport, PassOutput, Double)]
    while (passes.size < Main.MinPasses || Clock.now() - startMs < a.seconds * 1000.0) {
      passes += pass(spark, a, tracer, passes.size % 2 + 1)
    }
    val endMs = Clock.now()
    val spark1 = taskLog.map(_.summary(spark.sparkContext, startMs, endMs)).getOrElse(Map.empty)

    val (report, last, _) = passes.last
    val lastDir = a.workDir.resolve(s"pass-${(passes.size - 1) % 2 + 1}")
    val failed = passes.map(_._1.results.count(_.status != PipelineRunner.Succeeded)).sum
    Map(
      "workload" -> a.workload,
      "timed_start_ms" -> startMs,
      "timed_end_ms" -> endMs,
      "passes" -> passes.map(_._3),
      "operations" -> passes.map(_._2.taskSeconds.map(_._2 * 1000.0)),
      "attempted" -> passes.map(_._1.results.size).sum,
      "failed" -> failed,
      "rows" -> Days.toLong * RowsPerDay,
      "layers" -> Map(
        "pipeline.backfill_s" -> median(passes, "backfill"),
        "pipeline.export_load_s" -> median(passes, "export_load"),
        "pipeline.quality_s" -> median(passes, "quality"),
        "pipeline.summary_s" -> median(passes, "summary_"),
        "pipeline.valid_ratio" -> last.export.map(e => e.valid.toDouble / e.read).getOrElse(0.0),
        "io.written_bytes_per_row" -> bytesPerRow(lastDir, last.backfilled)),
      "spark" -> spark1,
      "units" -> passes.size,
      // the check runs in run.py, outside the timed window
      "batch_check" -> Map(
        "succeeded" -> report.succeeded,
        "report" -> report.results.map(r => s"${r.name}:${r.status}").mkString(","),
        "rows" -> Days.toLong * RowsPerDay,
        "backfilled" -> last.backfilled,
        "export" -> last.export.map(e => Map("read" -> e.read, "valid" -> e.valid, "written" -> e.written)),
        "quality" -> last.quality.map(q => Map("total" -> q.total,
          "missing" -> q.missingRequired, "invalid" -> q.invalid, "passed" -> q.passed)),
        "parquet" -> lastDir.resolve("mood.parquet").toString,
        "summaries" -> last.summaries.map { case (d, rows) => Map("day" -> d.toString, "rows" -> rows) }))
  }

  /** Median over passes of the summed seconds of tasks named `prefix`*. */
  private def median(passes: collection.Seq[(PipelineRunner.RunReport, PassOutput, Double)], prefix: String): Double = {
    val xs = passes.map(_._2.taskSeconds.filter(_._1.startsWith(prefix)).map(_._2).sum).sorted
    xs(xs.size / 2)
  }

  /** NDJSON plus parquet bytes written per backfilled row. */
  private def bytesPerRow(dir: Path, rows: Long): Double = {
    def size(p: Path): Long =
      if (!java.nio.file.Files.exists(p)) 0L
      else java.nio.file.Files.walk(p).filter(java.nio.file.Files.isRegularFile(_))
        .filter(f => !f.getFileName.toString.startsWith("."))
        .mapToLong(java.nio.file.Files.size(_)).sum()
    (size(dir.resolve("export.ndjson")) + size(dir.resolve("mood.parquet"))).toDouble /
      math.max(rows, 1L)
  }
}
