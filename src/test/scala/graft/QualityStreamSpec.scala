package graft

import org.apache.spark.sql.functions._

import graft.operators.LmScore
import graft.streaming.QualityStream

/** [[graft.streaming.QualityStream]] — the streaming quality meter
  * (q136's live twin). Per micro-batch admit counts + cumulative totals
  * against a FROZEN bigram LM; replay of an epoch must be
  * byte-identical regardless of how far the stream ran since.
  */
class QualityStreamSpec extends SparkSpec {
  import spark.implicits._

  private type Row7 = (Long, Long, Long, Long, Long, Long, Long)
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row7] = df
    .select("batch_id", "n_docs", "n_keep", "nll_micro",
      "cum_docs", "cum_keep", "cum_nll_micro")
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)))
    .sortBy(_._1).toSeq

  // trusted corpus: uni a=3, b=2, c=1 → V=3; lm "a b"=2, "b a"=1, "a c"=1
  private def model = LmScore.trainBigramLm(
    Seq("a b a b", "a c").toDF("text"), "text", topK = 512)

  private def nllU(c1: Long, cnt: Long): Long =
    math.round(math.log((c1 + 3).toDouble / (cnt + 1).toDouble) * 1e6)

  // epochs: doc 1 scores 2·ab + ba over 3 bigrams (kept at 800000);
  // doc 2 has no bigrams (counted, never kept); doc 3 is one model
  // bigram (kept); doc 4 is fully OOV (ln(V) per bigram — not kept)
  private val e0 = Seq((1L, "a b a b"), (2L, "q"))
  private val e1 = Seq((3L, "a b"))
  private val e2 = Seq((4L, "z z"))
  private val s0 = 2 * nllU(3, 2) + nllU(2, 1)
  private val s1 = nllU(3, 2)
  private val s2 = nllU(0, 0)
  private val want0: Row7 = (0L, 2L, 1L, s0, 2L, 1L, s0)
  private val want1: Row7 = (1L, 1L, 1L, s1, 3L, 2L, s0 + s1)
  private val want2: Row7 = (2L, 1L, 0L, s2, 4L, 2L, s0 + s1 + s2)

  test("staged core: batch + cumulative admit counts; epoch replay byte-identical") {
    assert(s1 <= 800000L && s0 <= 3 * 800000L && s2 > 800000L)
    val dir = tmpDir("qmeter-staged")
    def run(rows0: Seq[(Long, String)], id: Long) =
      rows(QualityStream.meterStaged(rows0.toDF("doc_id", "text"), dir,
        "text", "doc_id", model, keepMaxMicroNll = 800000L, batchId = id))
    assert(run(e0, 0L) == Seq(want0))
    assert(run(e1, 1L) == Seq(want1))
    assert(run(e2, 2L) == Seq(want2))
    // replay of epoch 1 AFTER epoch 2 landed: cumulative columns read
    // only segments <= 1, so the meter row is byte-identical
    assert(run(e1, 1L) == Seq(want1))
  }

  test("compact: fold is sum-exact, replay-safe; crash debris below the bound never double-counts") {
    val dir = tmpDir("qmeter-compact")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(name: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$name"))
    def run(rows0: Seq[(Long, String)], id: Long) =
      rows(QualityStream.meterStaged(rows0.toDF("doc_id", "text"), dir,
        "text", "doc_id", model, keepMaxMicroNll = 800000L, batchId = id))
    assert(run(e0, 0L) == Seq(want0))
    assert(run(e1, 1L) == Seq(want1))
    // fold segment 0 (keep=1 spares the newest, the stream discipline)
    assert(QualityStream.compact(spark, dir, keepNewestSegments = 1) == 1L)
    assert(!exists("seg_00000") && exists("gen_00001"))
    // post-fold report and newest-epoch replay: byte-identical
    assert(run(e2, 2L) == Seq(want2))
    assert(run(e1, 1L) == Seq(want1))
    // crash-left segment BELOW the fold bound: invisible by id, so the
    // cumulative sums cannot double-count it
    Seq((9L, 9L, 9L)).toDF("n_docs", "n_keep", "nll_micro")
      .write.mode("overwrite").parquet(s"$dir/seg_00000")
    assert(run(e2, 2L) == Seq(want2))
    // a second fold absorbs the previous generation (still sum-exact)
    assert(QualityStream.compact(spark, dir, keepNewestSegments = 1) == 2L)
    assert(!exists("gen_00001") && exists("gen_00002"))
    assert(run(e2, 2L) == Seq(want2))
    // keep=0 folds the newest epoch too — a replay below the bound must
    // now fail loudly instead of silently double-counting itself
    assert(QualityStream.compact(spark, dir, keepNewestSegments = 0) == 3L)
    intercept[IllegalArgumentException] { run(e2, 2L) }
    // nothing left to fold
    assert(QualityStream.compact(spark, dir) == -1L)
  }

  test("purgeSuperseded reclaims orphaned segments, stale gens, tmps") {
    val dir = tmpDir("qmeter-purge")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(name: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$name"))
    def run(rows0: Seq[(Long, String)], id: Long) =
      rows(QualityStream.meterStaged(rows0.toDF("doc_id", "text"), dir,
        "text", "doc_id", model, keepMaxMicroNll = 800000L, batchId = id))
    run(e0, 0L); run(e1, 1L); run(e2, 2L)
    assert(QualityStream.compact(spark, dir, keepNewestSegments = 1) == 2L)
    // debris: an orphaned sub-bound segment (compact filters at
    // >= prevBelow, so no later fold ever reclaims it) and a gen tmp
    Seq((9L, 9L, 9L)).toDF("n_docs", "n_keep", "nll_micro")
      .write.mode("overwrite").parquet(s"$dir/seg_00000")
    val tmp = fs.create(
      new org.apache.hadoop.fs.Path(s"$dir/gen_00009.tmp"), true)
    tmp.write("half".getBytes("UTF-8")); tmp.close()
    val before = run(e2, 2L)
    val purged = QualityStream.purgeSuperseded(spark, dir)
    assert(purged.size == 2, purged.mkString(", "))
    assert(!exists("seg_00000") && !exists("gen_00009.tmp"))
    assert(exists("gen_00001") && exists("seg_00002"))
    assert(run(e2, 2L) == before)
    assert(QualityStream.purgeSuperseded(spark, dir).isEmpty)
  }
}
