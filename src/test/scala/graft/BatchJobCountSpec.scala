package graft

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.io.{NdjsonSink, ParquetSink}
import graft.operators.Dedup
import graft.pipeline.{Backfill, ExportPipeline}

/** Each batch-tier write launches the minimum number of Spark jobs: the
  * backfill only its write, the export load one count action and its
  * write (with AQE, an aggregate is a map-stage job plus a result job),
  * and the span ingest one segment write per batch (plus the backfill's
  * batch-id collect).
  */
class BatchJobCountSpec extends SparkSpec {

  /** Spark jobs launched by `body`, counted under a fresh job group after
    * the listener bus has delivered every job event.
    */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("Backfill.run launches one job; ExportPipeline.loadNdjson at most four") {
    val dir = tmpDir("graft_jobs")
    var n = 0L
    val backfillJobs = jobsOf("backfill") {
      n = Backfill.run(spark, new NdjsonSink(s"$dir/export"),
        LocalDate.of(2025, 6, 20), 5, 500, 500, 7L)
    }
    var res: ExportPipeline.ExportResult = null
    val exportJobs = jobsOf("export") {
      res = ExportPipeline.loadNdjson(spark, s"$dir/export", new ParquetSink(s"$dir/mood"))
    }
    // the counts are real: the whole backfill went through both steps
    assert(n == 2500 && res == ExportPipeline.ExportResult(2500, 2500, 2500))
    assert(backfillJobs == 1)
    assert(exportJobs >= 2 && exportJobs <= 4, s"export ran $exportJobs jobs")
  }

  test("span ingest: one incremental batch and a three-batch backfill keep their job counts") {
    import spark.implicits._
    val batches = Seq(
      Seq((1L, "p q r s a b c"), (2L, "z z p q r s"), (3L, "m n")),
      Seq((11L, "k p q r s t"), (12L, "u v w x y")),
      Seq((21L, "h u v w"), (22L, "only unique tokens here")))
    val incrDir = tmpDir("graft_span_incr")
    val incrJobs = jobsOf("span-incremental") {
      Dedup.dupSpansIncrementalStaged(
        batches.head.toDF("doc_id", "text"), incrDir, "text", "doc_id", 3)
    }
    val backlog = batches.zipWithIndex
      .flatMap { case (rows, i) => rows.map(r => (i.toLong, r._1, r._2)) }
      .toDF("b", "doc_id", "text")
    val backfillDir = tmpDir("graft_span_backfill")
    val backfillJobs = jobsOf("span-backfill") {
      Dedup.dupSpansBackfillStaged(backlog, "b", backfillDir, "text", "doc_id", 3)
    }
    // the counts are real: one segment per ingested batch
    assert(Dedup.FingerprintStore.segments(spark, incrDir).size == 1)
    assert(Dedup.FingerprintStore.segments(spark, backfillDir).size == 3)
    // an incremental batch's one eager action is its segment write (its
    // AQE stages are the jobs); the backfill adds the bounded batch-id
    // collect and writes its three segments concurrently
    assert(incrJobs <= 9, s"incremental span ingest ran $incrJobs jobs")
    assert(backfillJobs == 16, s"span backfill ran $backfillJobs jobs")
  }
}
