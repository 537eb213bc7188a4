package graft

import graft.streaming.BudgetStream

class BudgetStreamSpec extends SparkSpec {
  import spark.implicits._

  test("admitStaged: persisted meter matches the live path; replay idempotent") {
    val dir = tmpDir("budget-staged")
    def mk(rows: (Long, String, String)*) =
      rows.toSeq.toDF("doc_id", "source", "text")
    // texts of 4, 3, 5, 1 tokens
    val b0 = mk((1L, "a", "w w w w"), (2L, "a", "x x x"), (3L, "b", "y y y y y"))
    val b1 = mk((4L, "a", "z z z z z"), (5L, "b", "q"))
    def run(b: org.apache.spark.sql.DataFrame, id: Long) =
      BudgetStream.admitStaged(b, dir, "text", "doc_id", "source",
        budget = 6L, batchId = id)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4))).sortBy(_._1).toSeq
    val r0 = run(b0, 0L)
    assert(r0 == Seq(
      (1L, "a", 4L, 0L, true), (2L, "a", 3L, 4L, true),
      (3L, "b", 5L, 0L, true)))
    val r1 = run(b1, 1L)
    assert(r1 == Seq((4L, "a", 5L, 7L, false), (5L, "b", 1L, 5L, true)))
    // replay of batch 1 reads only strictly-older segments: identical
    assert(run(b1, 1L) == r1)
    // the meter counted every arrived token, admitted or not
    val spent = BudgetStream.loadSpent(spark, dir, Long.MaxValue)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(spent == Map("a" -> 12L, "b" -> 6L))
  }

  test("compact: per-source fold is sum-exact, replay-safe; debris below the bound invisible") {
    val dir = tmpDir("budget-compact")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(n: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$n"))
    def mk(rows: (Long, String, String)*) =
      rows.toSeq.toDF("doc_id", "source", "text")
    val b0 = mk((1L, "a", "w w w w"), (2L, "a", "x x x"), (3L, "b", "y y y y y"))
    val b1 = mk((4L, "a", "z z z z z"), (5L, "b", "q"))
    val b2 = mk((6L, "b", "r r"))
    def run(b: org.apache.spark.sql.DataFrame, id: Long) =
      BudgetStream.admitStaged(b, dir, "text", "doc_id", "source",
        budget = 6L, batchId = id)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4))).sortBy(_._1).toSeq
    run(b0, 0L); val r1 = run(b1, 1L)
    // fold segment 0; the newest is spared (the stream discipline)
    assert(BudgetStream.compact(spark, dir, keepNewestSegments = 1) == 1L)
    assert(!exists("m_00000") && exists("gen_00001"))
    // decisions after the fold and the newest-epoch replay: identical
    val r2 = run(b2, 2L)
    assert(r2 == Seq((6L, "b", 2L, 6L, false))) // b spent 5+1 before
    assert(run(b1, 1L) == r1)
    // crash-left sub-bound segment never double-counts
    Seq(("a", 999L)).toDF("source", "__spent")
      .write.mode("overwrite").parquet(s"$dir/m_00000")
    assert(run(b2, 2L) == r2)
    val spent = BudgetStream.loadSpent(spark, dir, Long.MaxValue)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(spent == Map("a" -> 12L, "b" -> 8L))
    // keep=0 folds everything; a replay below the bound fails loudly
    assert(BudgetStream.compact(spark, dir, keepNewestSegments = 0) == 3L)
    intercept[IllegalArgumentException] { run(b2, 2L) }
    assert(BudgetStream.compact(spark, dir) == -1L)
  }

  test("purgeSuperseded reclaims crash debris the reader can't see") {
    val dir = tmpDir("budget-purge")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(n: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$n"))
    def mk(rows: (Long, String, String)*) =
      rows.toSeq.toDF("doc_id", "source", "text")
    BudgetStream.admitStaged(mk((1L, "a", "w w")), dir, "text", "doc_id",
      "source", 6L, 0L).collect()
    BudgetStream.admitStaged(mk((2L, "a", "x")), dir, "text", "doc_id",
      "source", 6L, 1L).collect()
    BudgetStream.admitStaged(mk((3L, "b", "y y y")), dir, "text", "doc_id",
      "source", 6L, 2L).collect()
    assert(BudgetStream.compact(spark, dir, keepNewestSegments = 1) == 2L)
    // fabricate the crash shapes a half-done compaction leaves behind:
    // a folded segment the cleanup missed (id < foldedBelow), a stale
    // generation marker + data dir, and an uncommitted gen tmp file
    Seq(("a", 999L)).toDF("source", "__spent")
      .write.mode("overwrite").parquet(s"$dir/m_00000")
    Seq(("a", 777L)).toDF("source", "__spent")
      .write.mode("overwrite").parquet(s"$dir/gen_data_00000")
    val mk0 = fs.create(new org.apache.hadoop.fs.Path(s"$dir/gen_00000"), true)
    mk0.write("gen_data_00000\t1".getBytes("UTF-8")); mk0.close()
    val tmp = fs.create(
      new org.apache.hadoop.fs.Path(s"$dir/gen_00002.tmp"), true)
    tmp.write("half-written".getBytes("UTF-8")); tmp.close()
    val before = BudgetStream.loadSpent(spark, dir, Long.MaxValue)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val purged = BudgetStream.purgeSuperseded(spark, dir)
    assert(purged.size == 4, purged.mkString(", "))
    assert(!exists("m_00000") && !exists("gen_00000") &&
      !exists("gen_data_00000") && !exists("gen_00002.tmp"))
    // the live generation + replay horizon survive, reader unchanged
    assert(exists("gen_00001") && exists("m_00002"))
    val after = BudgetStream.loadSpent(spark, dir, Long.MaxValue)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == before && after == Map("a" -> 3L, "b" -> 3L))
    // idempotent: a second purge finds nothing
    assert(BudgetStream.purgeSuperseded(spark, dir).isEmpty)
  }

  test("admitStaged joins the meter broadcast — no batch-side exchange for state") {
    val dir = tmpDir("budget-plan")
    val b0 = Seq((1L, "a", "w w")).toDF("doc_id", "source", "text")
    BudgetStream.admitStaged(b0, dir, "text", "doc_id", "source", 6L, 0L)
      .collect()
    // assert on the lazy admission plan (admitStaged itself returns the
    // eagerly checkpointed frame, whose executed plan is an RDD scan)
    val plan = BudgetStream
      .admissionFrame(b0, dir, "text", "doc_id", "source", 6L, 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
