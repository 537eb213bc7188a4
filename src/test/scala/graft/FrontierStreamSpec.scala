package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.FrontierStream
import graft.streaming.FrontierStream.{Discovered, Scheduled}

/** [[graft.streaming.FrontierStream]]: the politeness ladder climbs
  * across micro-batches, the depth cap holds stream-wide, the staged
  * path matches the live path batch-for-batch, replay is idempotent,
  * and compaction folds the meter sum-exactly.
  */
class FrontierStreamSpec extends SparkSpec {
  import spark.implicits._

  private val delays = Map("a.com" -> 2000L)

  test("live: waves continue across batches; cap holds stream-wide") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Discovered]
    val q = FrontierStream.scheduled(in.toDS(), delays, maxDepth = 3L)
      .writeStream.format("memory").queryName("frontier_out")
      .option("checkpointLocation", tmpDir("frontier-ckpt"))
      .outputMode(OutputMode.Append)
      .start()
    try {
      // batch 1: best-first within the batch (u2 outranks u1)
      in.addData(Discovered("u1", "a.com", 1L), Discovered("u2", "a.com", 9L))
      q.processAllAvailable()
      // batch 2: a.com resumes at wave 3; the 4th discovery is rejected
      // and does NOT consume a wave — u5 on a fresh domain starts at 1
      in.addData(Discovered("u3", "a.com", 5L), Discovered("u4", "a.com", 4L),
        Discovered("u5", "b.com", 1L))
      q.processAllAvailable()
      val got = spark.table("frontier_out").as[Scheduled].collect()
        .sortBy(_.url).toSeq
      assert(got == Seq(
        Scheduled("u1", "a.com", 1L, 2L, 2000L, true),
        Scheduled("u2", "a.com", 9L, 1L, 0L, true),
        Scheduled("u3", "a.com", 5L, 3L, 4000L, true),
        Scheduled("u4", "a.com", 4L, 4L, 6000L, false),
        Scheduled("u5", "b.com", 1L, 1L, 0L, true)))
    } finally q.stop()
  }

  private val delaysDf = Seq(("a.com", 2000L)).toDF("domain", "delay_ms")

  private def mk(rows: (String, String, Long)*) =
    rows.toSeq.toDF("url", "domain", "priority")

  private def run(dir: String)(b: org.apache.spark.sql.DataFrame, id: Long) =
    FrontierStream.assignStaged(b, dir, "url", "priority",
      delaysDf, maxDepth = 3L, batchId = id)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).sortBy(_._1).toSeq

  test("live matches staged when SEVERAL rows overflow the cap at once") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Discovered]
    val q = FrontierStream.scheduled(in.toDS(), delays, maxDepth = 2L)
      .writeStream.format("memory").queryName("frontier_multi")
      .option("checkpointLocation", tmpDir("frontier-multi-ckpt"))
      .outputMode(OutputMode.Append)
      .start()
    try {
      in.addData(Discovered("u1", "a.com", 9L), Discovered("u2", "a.com", 8L),
        Discovered("u3", "a.com", 7L), Discovered("u4", "a.com", 6L))
      q.processAllAvailable()
      val live = spark.table("frontier_multi").as[Scheduled].collect()
        .map(s => (s.url, s.wave, s.eta_ms, s.scheduled)).sortBy(_._1).toSeq
      val dir = tmpDir("frontier-multi-staged")
      val staged = FrontierStream.assignStaged(
        mk(("u1", "a.com", 9L), ("u2", "a.com", 8L),
          ("u3", "a.com", 7L), ("u4", "a.com", 6L)),
        dir, "url", "priority", delaysDf, maxDepth = 2L,
        batchId = 0L)
        .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(4),
          r.getBoolean(5))).sortBy(_._1).toSeq
      // rejected rows get DISTINCT waves on both paths (row_number +
      // prior), and neither advances the meter
      assert(live == staged)
      assert(live.map(_._2) == Seq(1L, 2L, 3L, 4L))
      assert(live.map(_._4) == Seq(true, true, false, false))
      // the next batch resumes at the SCHEDULED count
      in.addData(Discovered("u5", "a.com", 1L))
      q.processAllAvailable()
      val u5 = spark.table("frontier_multi").as[Scheduled].collect()
        .find(_.url == "u5").get
      assert(u5.wave == 3L && !u5.scheduled)
    } finally q.stop()
  }

  test("assignStaged: matches the live path; replay idempotent") {
    val dir = tmpDir("frontier-staged")
    val b0 = mk(("u1", "a.com", 1L), ("u2", "a.com", 9L))
    val b1 = mk(("u3", "a.com", 5L), ("u4", "a.com", 4L),
      ("u5", "b.com", 1L))
    val r0 = run(dir)(b0, 0L)
    assert(r0 == Seq(
      ("u1", "a.com", 1L, 2L, 2000L, true),
      ("u2", "a.com", 9L, 1L, 0L, true)))
    val r1 = run(dir)(b1, 1L)
    assert(r1 == Seq(
      ("u3", "a.com", 5L, 3L, 4000L, true),
      ("u4", "a.com", 4L, 4L, 6000L, false),
      ("u5", "b.com", 1L, 1L, 0L, true))) // fresh domain: wave 1, eta 0
    // replay reads only strictly-older segments: identical
    assert(run(dir)(b1, 1L) == r1)
    // the meter counted only SCHEDULED urls (u4 re-enters next cycle)
    val m = FrontierStream.loadAssigned(spark, dir, Long.MaxValue)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("a.com" -> 3L, "b.com" -> 1L))
  }

  test("compact folds the meter sum-exactly; sub-bound debris invisible") {
    val dir = tmpDir("frontier-compact")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(n: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$n"))
    run(dir)(mk(("u1", "a.com", 1L)), 0L)
    val r1 = run(dir)(mk(("u2", "a.com", 2L)), 1L)
    assert(FrontierStream.compact(spark, dir, keepNewestSegments = 1) == 1L)
    assert(!exists("m_00000") && exists("gen_00001"))
    // post-fold decisions and the newest-epoch replay: identical
    val r2 = run(dir)(mk(("u3", "a.com", 3L), ("u4", "a.com", 1L)), 2L)
    assert(r2.map(x => (x._1, x._4, x._6)) ==
      Seq(("u3", 3L, true), ("u4", 4L, false)))
    assert(run(dir)(mk(("u2", "a.com", 2L)), 1L) == r1)
    // crash-left segment below the fold bound never double-counts
    Seq(("a.com", 999L)).toDF("domain", "__assigned")
      .write.mode("overwrite").parquet(s"$dir/m_00000")
    assert(run(dir)(mk(("u3", "a.com", 3L), ("u4", "a.com", 1L)), 2L) == r2)
    // keep=0 folds everything; a replay below the bound fails loudly
    assert(FrontierStream.compact(spark, dir, keepNewestSegments = 0) == 3L)
    intercept[IllegalArgumentException] { run(dir)(mk(("x", "a.com", 1L)), 2L) }
  }

  test("assignStaged joins the meter broadcast — no batch-side exchange for state") {
    val dir = tmpDir("frontier-plan")
    run(dir)(mk(("u1", "a.com", 1L)), 0L)
    val plan = FrontierStream.assignStaged(
      mk(("u2", "a.com", 2L)), dir, "url", "priority",
      delaysDf, maxDepth = 3L, batchId = 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
