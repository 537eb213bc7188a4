package graft

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.io.{NdjsonSink, ParquetSink}
import graft.pipeline.{Backfill, ExportPipeline}

/** Each batch-tier write launches the minimum number of Spark jobs: the
  * backfill only its write, the export load one count action and its
  * write (with AQE, an aggregate is a map-stage job plus a result job).
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
}
