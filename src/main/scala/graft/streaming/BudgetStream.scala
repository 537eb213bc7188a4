package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.TextFunctions
import graft.util.SegmentStore

/** Streaming token-budget admission — q96's mixture quota run as an
  * INGEST policy instead of a ranking pass: documents arrive in order,
  * each source owns a token budget, and a doc is admitted iff its
  * source's meter has not yet filled when it arrives (`cum_before <
  * budget`; the meter counts every ARRIVED token, so the cutoff is a
  * pure prefix of the stream and replay-stable — a best-first policy is
  * the batch operator's job, not the stream's).
  *
  * [[admitStaged]] is the foreachBatch/sequential-ingest core with a
  * PERSISTED per-source meter — state is (source, arrived_tokens) per
  * batch, landed as immutable batch-id-keyed segments (the store-family
  * protocol: `_SUCCESS`-gated, a replay overwrites its OWN segment and
  * reads only strictly-older ones, so recomputing a batch is
  * idempotent). The meter frame is |sources|-sized — it broadcasts; the
  * only batch-sized work is one source-keyed window.
  *
  * At 100 TB: state is bounded by |sources|, admission is map-side
  * except the per-source ordered window within one batch, and the
  * emitted decision stream is itself an auditable table (why was this
  * doc dropped? — `cum_before` says).
  */
object BudgetStream {

  /** Sequential-ingest core: admit `batch` against the persisted meter,
    * then land this batch's per-source arrivals as segment `batchId`.
    * Reads only segments with id < `batchId`, so a replay of batch k
    * (same data, same id) reproduces its decisions exactly.
    *
    * Materialization notes (r18 advisor):
    *  - the eager localCheckpoint below TRUNCATES LINEAGE — loss of an
    *    executor holding its blocks between this call and the caller's
    *    terminal action fails that action instead of recomputing.
    *    Streaming callers recover via idempotent batch replay (the
    *    store protocol above); a direct batch caller that cannot
    *    tolerate a hard failure should prefer reliable checkpointing.
    *  - the checkpoint blocks are reclaimed by the ContextCleaner once
    *    the returned frame is GC-unreachable (no deterministic release
    *    handle exists for localCheckpoint blocks); the blocks are
    *    micro-batch-sized, and a long-running stream sheds them as each
    *    batch's frame goes out of scope. Harnesses that chain many
    *    batches in one JVM (Bench) nudge reclamation with System.gc().
    */
  def admitStaged(
      batch: DataFrame,
      stateDir: String,
      textCol: String,
      idCol: String,
      srcCol: String,
      budget: Long,
      batchId: Long): DataFrame = {
    val decided = admissionFrame(
      batch, stateDir, textCol, idCol, srcCol, budget, batchId)
    // ONE execution of the batch chain per epoch: the decision frame's
    // lineage carries the batch's whole tokenization (and, under
    // CurationStream, the dedup semi-join + extract cache reads), and
    // TWO actions used to consume it — the meter write here and the
    // caller's decisions action — running that chain twice per batch.
    // Materialize the MICRO-BATCH-sized decision frame once and derive
    // the meter from it (per-source Σ n_tokens over decided rows ≡ the
    // old per-source Σ over arrivals — decided is one row per arrival).
    // localCheckpoint, not OperatorCaches.persisted: the r18 A/B
    // measured the cache-registry route at +3 jobs / +1 s on q102
    // (block-manager fill + registry churn), while the checkpoint is
    // the frame's only materialization and the caller's action reads
    // its blocks directly.
    val dec = decided.localCheckpoint(eager = true)
    // meter update: every arrived token counts, admitted or not
    dec.groupBy(col(srcCol)).agg(sum(col("n_tokens")).as("__spent"))
      .write.mode("overwrite").parquet(segPath(stateDir, batchId))
    dec
  }

  /** The LAZY admission plan [[admitStaged]] materializes: one
    * broadcast join of the |sources|-sized meter onto the arrivals plus
    * one source-keyed window — no batch-side exchange for state (plan
    * pinned by BudgetStreamSpec). Exposed so the plan stays assertable
    * past admitStaged's eager checkpoint.
    */
  private[graft] def admissionFrame(
      batch: DataFrame,
      stateDir: String,
      textCol: String,
      idCol: String,
      srcCol: String,
      budget: Long,
      batchId: Long): DataFrame = {
    val s = batch.sparkSession
    val nTok = size(filter(TextFunctions.tokens(col(textCol)),
      t => t =!= "")).cast("long")
    val arr = batch.select(col(idCol), col(srcCol),
      nTok.as("n_tokens"))
    val prior = loadSpent(s, stateDir, batchId, srcCol)
    val w = Window.partitionBy(col(srcCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    arr
      .join(broadcast(prior), Seq(srcCol), "left")
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)) +
          coalesce(col("__spent"), lit(0L)))
      .select(col(idCol), col(srcCol), col("n_tokens"),
        col("cum_before"), (col("cum_before") < budget).as("admitted"))
  }

  /** GC of crash debris (stale generations, `gen_*.tmp`, segments
    * orphaned below `foldedBelow`) — see [[SegmentStore.purge]].
    */
  def purgeSuperseded(s: SparkSession, dir: String): Seq[String] =
    SegmentStore.purge(s, dir, "m_")

  private def segPath(dir: String, id: Long) = SegmentStore.segPath(dir, id, "m_")

  private def meterSchema(srcCol: String) = StructType(Seq(
    StructField(srcCol, StringType), StructField("__spent", LongType)))

  /** Fold committed per-source meter segments (except the newest
    * `keepNewestSegments`) into ONE generation — one row per source,
    * spent summed — absorbing any previous generation
    * ([[SegmentStore.compactSums]]). Keep ≥ 1 while a stream feeds the
    * store: a replayed epoch reads strictly below itself and
    * [[loadSpent]] fails loudly past the bound.
    *
    * @return the new `foldedBelow` bound, or -1 if nothing to fold.
    */
  def compact(
      s: SparkSession,
      dir: String,
      srcCol: String = "source",
      keepNewestSegments: Int = 1): Long =
    SegmentStore.compactSums(s, dir, meterSchema(srcCol), Seq(srcCol),
      keepNewestSegments, "m_")

  /** Per-source meter from the generation (if any) plus every committed
    * segment with id in `[foldedBelow, beforeId)` (pass Long.MaxValue
    * for "all of them"). Fails loudly if a compaction folded segments
    * at or beyond `beforeId` — a replay past the fold bound would
    * silently double-count itself otherwise.
    */
  def loadSpent(
      s: SparkSession, dir: String, beforeId: Long,
      srcCol: String = "source"): DataFrame =
    SegmentStore.loadSums(s, dir, beforeId, meterSchema(srcCol), Seq(srcCol), "m_")
}
