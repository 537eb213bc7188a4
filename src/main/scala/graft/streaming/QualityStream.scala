package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.LmScore
import graft.util.SegmentStore

/** STREAMING quality meter — q136's
  * ([[graft.operators.LmScore.bigramPerplexity]]) live twin, the lambda
  * pairing every batch gate in this engine gets (q127→q130 drift,
  * q96→q102 budget): each micro-batch of arriving documents is scored
  * against the FROZEN reference LM (trained once, broadcast into every
  * epoch — re-training per batch would let the stream's own drift move
  * the bar), and the meter emits one row per batch: the batch's admit
  * counts plus CUMULATIVE totals across all epochs so far — the
  * "how much of today's crawl survived the perplexity gate" dashboard
  * row, live instead of at the nightly QA sweep.
  *
  * All-integer surface: per-document scores are the q136 micro-nat
  * longs; batch and cumulative aggregates are 64-bit integer sums, so
  * every engine and every replay reproduces the meter bit-for-bit.
  *
  * State protocol = the store family's batch-id-keyed segments
  * ([[DriftStream.driftStaged]]'s exact shape): each micro-batch lands
  * its ONE-ROW (n_docs, n_keep, nll_micro) summary as `_SUCCESS`-gated
  * segment `batchId` (overwrite — a replayed epoch rewrites itself
  * deterministically), and batch k's report reads ONLY segments ≤ k,
  * so the cumulative columns are byte-identical on replay no matter
  * how far the stream ran before a crash.
  *
  * [[compact]] folds old one-row segments into a single GENERATION row
  * (marker + `foldedBelow` bound, the FingerprintStore protocol), so a
  * long-lived meter lists O(keepNewestSegments) paths per epoch instead
  * of one per batch since stream start. The fold is SUM-safe under
  * crashes: the reader takes the generation plus only segments with
  * id ≥ `foldedBelow`, so a folded segment a crashed cleanup left
  * behind can never double-count — it is invisible the moment the
  * marker renames in.
  *
  * Scale shape: scoring is the q136 shape (broadcast model probes, one
  * doc-keyed sum); the per-batch reduction collapses to ONE row before
  * any write; cumulative state is k one-row segments — no executor
  * state, no state-store migration on restart, and the same segments
  * serve ad-hoc backfill queries.
  */
object QualityStream {

  val segSchema: StructType = StructType(Seq(
    StructField("n_docs", LongType), StructField("n_keep", LongType),
    StructField("nll_micro", LongType)))

  private def segPath(stateDir: String, id: Long): String =
    SegmentStore.segPath(stateDir, id)

  /** Fold committed segments (except the newest `keepNewestSegments`)
    * into ONE generation row — the cumulative (n_docs, n_keep,
    * nll_micro) over everything folded, absorbing any previous
    * generation ([[SegmentStore.compactSums]]). Keep ≥ 1 while a stream
    * feeds the store: Structured Streaming may replay its most recent
    * epoch, whose report requires `foldedBelow ≤ batchId`
    * ([[meterStaged]] fails loudly otherwise).
    *
    * @return the new `foldedBelow` bound, or -1 if there was nothing
    *         to fold (no new generation committed).
    */
  def compact(
      s: org.apache.spark.sql.SparkSession,
      stateDir: String,
      keepNewestSegments: Int = 1): Long =
    SegmentStore.compactSums(s, stateDir, segSchema, Nil, keepNewestSegments)

  /** Sequential-ingest core: score `batch` under the frozen `model`,
    * land its one-row summary as segment `batchId`, and report the
    * meter row over segments ≤ `batchId`:
    * (batch_id, n_docs, n_keep, nll_micro, cum_docs, cum_keep,
    * cum_nll_micro). A document with no bigrams counts in `n_docs`,
    * never in `n_keep` (the q136 rule).
    */
  def meterStaged(
      batch: DataFrame,
      stateDir: String,
      textCol: String,
      idCol: String,
      model: LmScore.BigramLm,
      keepMaxMicroNll: Long,
      batchId: Long): DataFrame = {
    require(keepMaxMicroNll > 0,
      "meterStaged: keepMaxMicroNll must be positive")
    val s = batch.sparkSession
    val scored = LmScore.scoreBigrams(batch, textCol, idCol, model)
    batch.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_bigrams") > 0 &&
          col("nll_micro") <= col("n_bigrams") * keepMaxMicroNll,
          1L).otherwise(0L)).as("n_keep"),
        sum(coalesce(col("nll_micro"), lit(0L))).as("nll_micro"))
      .write.mode("overwrite").parquet(segPath(stateDir, batchId))
    // history strictly below this epoch (fails loudly if a fold
    // covered it), plus the epoch's own segment
    val cum = SegmentStore.sums(s.read.schema(segSchema).parquet(
        SegmentStore.historyPaths(s, stateDir, batchId) :+
          segPath(stateDir, batchId): _*), segSchema, Nil)
      .toDF("cum_docs", "cum_keep", "cum_nll_micro")
    s.read.schema(segSchema).parquet(segPath(stateDir, batchId))
      .crossJoin(broadcast(cum))
      .select(lit(batchId).as("batch_id"), col("n_docs"), col("n_keep"),
        col("nll_micro"), col("cum_docs"), col("cum_keep"),
        col("cum_nll_micro"))
  }

  /** GC of crash debris (stale generations, `gen_*.tmp`, segments
    * orphaned below `foldedBelow`) — see [[SegmentStore.purge]].
    */
  def purgeSuperseded(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[String] =
    SegmentStore.purge(s, dir)
}
