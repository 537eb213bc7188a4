package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.util.SegmentStore

/** STREAMING corpus-drift monitor — q127's
  * ([[graft.operators.Profile.tokenDrift]]) live twin, the lambda
  * pairing the reference's architecture implies (batch report + live
  * view, like q96/q102's budget meter): per SOURCE, the token-frequency
  * ppm of a SLIDING WINDOW of recent micro-batches is compared against
  * a broadcast BASELINE snapshot, and tokens whose ppm moved at least
  * `thresholdPpm` are flagged per micro-batch — the scraper-change /
  * boilerplate-template / language-mix alarms, raised while the dump is
  * still arriving instead of at the next batch QA sweep.
  *
  * All-integer surface (the q127 discipline): per-source windowed ppm =
  * `cnt·10⁶ div total`, baseline ppm precomputed the same way, drift =
  * `|ppm_win − ppm_base|`. Tokens the window holds but the baseline
  * lacks read baseline 0 — NEW vocabulary is exactly the signal;
  * VANISHED vocabulary (baseline-only tokens) is the batch report's job
  * (q127 does the full-outer), because a per-source vanish report is
  * |sources|×|baseline| rows of mostly zeros on a stream.
  *
  * State protocol = the store family's batch-id-keyed segments
  * ([[BudgetStream.admitStaged]]'s exact shape): each micro-batch lands
  * its per-(source, token) counts as segment `batchId` (`_SUCCESS`-
  * gated parquet, overwrite), and batch k's report reads ONLY segments
  * in `(k − window, k]` — its own (rewritten deterministically on
  * replay) plus up to `window − 1` strictly older ones. Segments newer
  * than k are EXCLUDED by construction, so a replayed epoch emits
  * byte-identical flags no matter how far the stream ran before the
  * crash.
  *
  * Scale shape: one token-keyed count per batch (map-side partials
  * collapse the explode), window re-aggregation over `window`
  * vocabulary-sized segments, baseline joined BROADCAST (vocabulary-
  * sized by construction). Corpus text never shuffles; per-source
  * totals ride the same aggregate. State on executors: none — the
  * window lives in the store, so a monitor restart needs no state
  * migration (and the same segments serve ad-hoc backfill queries).
  */
object DriftStream {

  val segSchema: StructType = StructType(Seq(
    StructField("source", StringType), StructField("tok", StringType),
    StructField("cnt", LongType)))

  /** Baseline snapshot: (tok, ppm_base) over `corpus` — compute once,
    * the result is vocabulary-sized and broadcasts into every batch
    * report.
    */
  def baselinePpm(corpus: DataFrame, textCol: String): DataFrame = {
    val counts = corpus
      .select(explode(graft.functions.TextFunctions
        .tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    counts
      .crossJoin(broadcast(counts.agg(sum(col("cnt")).as("tot"))))
      .select(col("tok"),
        expr("coalesce(cnt * 1000000L div tot, 0L)").as("ppm_base"))
  }

  /** Delete segments that no FUTURE (or replayed) report can read —
    * the retention/GC a windowed meter needs instead of a fold: batch
    * k's report reads `(k − window, k]`, batch ids only move forward,
    * and Structured Streaming replays at most the newest committed
    * epoch, so every segment with id ≤ maxCommittedId − window is dead
    * weight. Run it between epochs (single writer, like ingest itself);
    * a crash mid-purge just leaves some dead segments for the next
    * purge — never anything a report reads.
    *
    * @return ids of the segments deleted.
    */
  def purge(s: SparkSession, stateDir: String, window: Int): Seq[Long] = {
    require(window >= 1, "purge: window must be >= 1")
    SegmentStore.segments(s, stateDir).lastOption.fold(Seq.empty[Long]) {
      case (maxId, _) =>
        SegmentStore.dropBelow(s, stateDir, maxId - window + 1).map(_._1)
    }
  }

  /** Sequential-ingest core: land `batch`'s per-(source, token) counts
    * as segment `batchId`, then report drift over the window
    * `(batchId − window, batchId]` against `baseline` (a
    * [[baselinePpm]] frame). Returns the flagged rows:
    * (batch_id, source, tok, cnt_win, ppm_win, ppm_base, drift_ppm),
    * drift ≥ `thresholdPpm`, deterministically ordered.
    */
  def driftStaged(
      batch: DataFrame,
      stateDir: String,
      textCol: String,
      srcCol: String,
      baseline: DataFrame,
      window: Int,
      thresholdPpm: Long,
      batchId: Long): DataFrame = {
    require(window >= 1, "driftStaged: window must be >= 1")
    require(thresholdPpm >= 0, "driftStaged: thresholdPpm must be >= 0")
    val s = batch.sparkSession
    batch
      .select(col(srcCol).as("source"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(SegmentStore.segPath(stateDir, batchId))
    val winSegs = SegmentStore.segments(s, stateDir)
      .filter { case (id, _) => id > batchId - window && id <= batchId }
      .map(_._2)
    val win = s.read.schema(segSchema).parquet(winSegs: _*)
      .groupBy(col("source"), col("tok")).agg(sum(col("cnt")).as("cnt_win"))
    val totals = win.groupBy(col("source")).agg(sum(col("cnt_win")).as("tot"))
    win
      .join(totals, Seq("source"))
      .select(col("source"), col("tok"), col("cnt_win"),
        expr("coalesce(cnt_win * 1000000L div tot, 0L)").as("ppm_win"))
      .join(broadcast(baseline), Seq("tok"), "left")
      .select(lit(batchId).as("batch_id"), col("source"), col("tok"),
        col("cnt_win"), col("ppm_win"),
        coalesce(col("ppm_base"), lit(0L)).as("ppm_base"))
      .withColumn("drift_ppm", abs(col("ppm_win") - col("ppm_base")))
      .filter(col("drift_ppm") >= thresholdPpm)
      .orderBy(col("source"), col("drift_ppm").desc, col("tok"))
  }

  /** Live Structured-Streaming twin: drive [[driftStaged]] per
    * micro-batch via foreachBatch, landing each epoch's flags under
    * `outDir/batch_id=<id>` with OVERWRITE — a replayed epoch rewrites
    * its own directory with identical rows (deterministic report over
    * an epoch-scoped segment window), so the output table is idempotent
    * under the checkpoint's replay contract.
    */
  /** `purgeEvery > 0` makes the monitor SELF-MAINTAINING: after every
    * Nth epoch, [[purge]] deletes segments outside every future (or
    * replayed) window, so a long-lived stream holds O(window) segments
    * instead of one per epoch since start. Runs after the epoch's own
    * write — the single-writer window — and is replay-invisible by the
    * window bound.
    */
  def monitor(
      stream: DataFrame,
      stateDir: String,
      outDir: String,
      checkpointDir: String,
      textCol: String,
      srcCol: String,
      baseline: DataFrame,
      window: Int,
      thresholdPpm: Long,
      purgeEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, id: Long) =>
        driftStaged(df, stateDir, textCol, srcCol, baseline,
          window, thresholdPpm, id)
          .write.mode("overwrite").parquet(f"$outDir/batch_id=$id%05d")
        if (purgeEvery > 0 && id > 0 && id % purgeEvery == 0)
          purge(df.sparkSession, stateDir, window): Unit
        ()
      }
      .start()
}
