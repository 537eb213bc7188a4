package graft

import org.apache.spark.sql.functions._

import graft.streaming.DriftStream

/** [[graft.streaming.DriftStream]] — the streaming drift monitor (q127's
  * live twin). Integer-ppm drift flags per micro-batch over a sliding
  * segment window vs a broadcast baseline; replay of an epoch must be
  * byte-identical regardless of how far the stream ran since.
  */
class DriftStreamSpec extends SparkSpec {
  import spark.implicits._

  private type Flag = (Long, String, String, Long, Long, Long, Long)
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Flag] = df
    .select("batch_id", "source", "tok", "cnt_win", "ppm_win", "ppm_base",
      "drift_ppm")
    .collect()
    .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)))
    .sortBy(t => (t._1, t._2, t._3)).toSeq

  // baseline: aa and bb each at 500000 ppm
  private def baseline = DriftStream.baselinePpm(
    Seq("aa aa bb bb").toDF("text"), "text")

  // epoch payloads (doc_id, source, text)
  private val e0 = Seq((1L, "s1", "aa aa aa bb"), (2L, "s2", "bb bb"))
  private val e1 = Seq((3L, "s1", "cc cc"))
  private val e2 = Seq((4L, "s1", "aa bb"))

  // hand-computed expectations at window=2, threshold=200000:
  // epoch 0 — s1: aa 3/4=750000 (drift 250000), bb 1/4=250000 (250000);
  //           s2: bb 2/2=1000000 (drift 500000)
  private val want0: Seq[Flag] = Seq(
    (0L, "s1", "aa", 3L, 750000L, 500000L, 250000L),
    (0L, "s1", "bb", 1L, 250000L, 500000L, 250000L),
    (0L, "s2", "bb", 2L, 1000000L, 500000L, 500000L))
  // epoch 1 — s1 window {0,1}: aa 3/6=500000 (0, unflagged), bb 1/6=
  // 166666 (333334), cc 2/6=333333 (baseline 0 → NEW-vocab drift);
  // s2 window {0,1}: bb still 2/2 (500000)
  private val want1: Seq[Flag] = Seq(
    (1L, "s1", "bb", 1L, 166666L, 500000L, 333334L),
    (1L, "s1", "cc", 2L, 333333L, 0L, 333333L),
    (1L, "s2", "bb", 2L, 1000000L, 500000L, 500000L))
  // epoch 2 — s1 window {1,2}: aa 1/4=250000 (250000), bb 1/4=250000
  // (250000), cc 2/4=500000 (500000); s2 absent from the window
  private val want2: Seq[Flag] = Seq(
    (2L, "s1", "aa", 1L, 250000L, 500000L, 250000L),
    (2L, "s1", "bb", 1L, 250000L, 500000L, 250000L),
    (2L, "s1", "cc", 2L, 500000L, 0L, 500000L))

  test("staged core: sliding window, per-source totals, new-vocab signal") {
    val dir = tmpDir("drift-staged")
    def run(rows0: Seq[(Long, String, String)], id: Long) =
      rows(DriftStream.driftStaged(
        rows0.toDF("doc_id", "source", "text"), dir, "text", "source",
        baseline, window = 2, thresholdPpm = 200000L, batchId = id))
    assert(run(e0, 0L) == want0)
    assert(run(e1, 1L) == want1)
    assert(run(e2, 2L) == want2)
    // replay of epoch 1 AFTER epoch 2 landed: the report reads only the
    // epoch-scoped window (segments newer than the epoch are excluded),
    // so the flags are byte-identical
    assert(run(e1, 1L) == want1)
  }

  test("purge: deletes only segments outside every future window; reports unchanged") {
    val dir = tmpDir("drift-purge")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def run(rows0: Seq[(Long, String, String)], id: Long) =
      rows(DriftStream.driftStaged(
        rows0.toDF("doc_id", "source", "text"), dir, "text", "source",
        baseline, window = 2, thresholdPpm = 200000L, batchId = id))
    assert(run(e0, 0L) == want0)
    assert(run(e1, 1L) == want1)
    // both segments still serve a replay of epoch 1 — nothing deletable
    assert(DriftStream.purge(spark, dir, window = 2).isEmpty)
    assert(run(e2, 2L) == want2)
    // segment 0 is now outside (maxId − window, maxId] for every future
    // (or replayed-newest) report
    assert(DriftStream.purge(spark, dir, window = 2) == Seq(0L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/seg_00000")))
    // newest-epoch replay after the purge: byte-identical
    assert(run(e2, 2L) == want2)
    // a fresh epoch whose window is all live segments: e2+e3 both read
    // "aa bb", so every ppm sits exactly on the baseline — no flags
    assert(run(Seq((5L, "s1", "aa bb")), 3L).isEmpty)
  }
}
