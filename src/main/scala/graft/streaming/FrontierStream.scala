package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.util.SegmentStore

/** Streaming crawl-frontier scheduler — q165/q166 run as an INGEST
  * policy: discovered URLs arrive in micro-batches and each domain's
  * politeness ladder keeps climbing across batches (batch k's first
  * URL for a domain lands on the wave AFTER the last one batch k−1
  * assigned). The per-domain depth cap holds ACROSS the whole stream —
  * once a domain has `maxDepth` scheduled fetches, later discoveries
  * are rejected until the next crawl cycle resets the store.
  *
  * Two implementations sharing the semantics:
  *  - [[assignStaged]]: the foreachBatch/sequential-ingest core with a
  *    PERSISTED per-domain assigned-count meter, landed as immutable
  *    batch-id-keyed segments (the store-family protocol:
  *    `_SUCCESS`-gated, a replay overwrites its OWN segment and reads
  *    only strictly-older ones — recomputing a batch is idempotent).
  *    Within a batch, waves go best-first (priority DESC, url ASC) —
  *    the q165 ordering; ACROSS batches, arrival order rules (a stream
  *    cannot rank what has not arrived).
  *  - [[scheduled]]: the live Structured-Streaming twin via
  *    flatMapGroupsWithState (state per domain = one Long), groups
  *    folded in the same best-first order so both paths agree
  *    batch-for-batch.
  *
  * The meter counts only SCHEDULED URLs (rejected ones re-enter next
  * cycle), and the scheduled count per (domain, batch) is a pure
  * function of the prior count and the batch's arrival count —
  * min(prior + n, maxDepth) − prior — so the meter segment is ONE
  * cheap aggregate, no second window.
  *
  * At 100 TB: state is bounded by |domains|, the meter broadcasts, and
  * the only batch-sized work is one domain-keyed window per batch.
  */
object FrontierStream {

  /** Politeness delay of a domain absent from the delay table. */
  private val DefaultDelayMs = 1000L

  final case class Discovered(url: String, domain: String, priority: Long)
  final case class Scheduled(
      url: String, domain: String, priority: Long,
      wave: Long, eta_ms: Long, scheduled: Boolean)

  /** Live stateful variant: one assigned-count Long per domain. */
  def scheduled(
      discovered: Dataset[Discovered],
      delays: Map[String, Long],
      maxDepth: Long): Dataset[Scheduled] = {
    import discovered.sparkSession.implicits._
    discovered
      .groupByKey(_.domain)
      .flatMapGroupsWithState[Long, Scheduled](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (dom: String, rows: Iterator[Discovered], state: GroupState[Long]) =>
          val base = state.getOption.getOrElse(0L)
          val delay = delays.getOrElse(dom, DefaultDelayMs)
          var i = 0L
          // waves number EVERY arrival (base + batch row index — the
          // staged path's row_number() + prior, so both paths agree
          // even when several rows overflow the cap in one batch);
          // only scheduled ones advance the meter
          val out = rows.toSeq.sortBy(r => (-r.priority, r.url)).map { r =>
            i += 1
            val wave = base + i
            Scheduled(r.url, dom, r.priority, wave,
              (wave - 1) * delay, wave <= maxDepth)
          }
          state.update(math.min(base + i, maxDepth))
          out.iterator
      }
  }

  /** Sequential-ingest core: schedule `batch` against the persisted
    * per-domain meter, then land this batch's scheduled counts as
    * segment `batchId`. Reads only segments with id < `batchId`, so a
    * replay of batch k reproduces its decisions exactly.
    */
  def assignStaged(
      batch: DataFrame,
      stateDir: String,
      urlCol: String,
      domainCol: String,
      priorityCol: String,
      delays: DataFrame,
      maxDepth: Long,
      batchId: Long): DataFrame = {
    val s = batch.sparkSession
    val arr = batch.select(col(urlCol), col(domainCol), col(priorityCol))
    val prior = loadAssigned(s, stateDir, batchId, domainCol)
    val d = delays.select(col("domain").as("__dd"),
      col("delay_ms").cast("long").as("__dm"))
    val w = Window.partitionBy(col(domainCol))
      .orderBy(col(priorityCol).desc, col(urlCol).asc)
    val decided = arr
      .join(broadcast(prior), Seq(domainCol), "left")
      .withColumn("wave",
        row_number().over(w).cast("long") +
          coalesce(col("__assigned"), lit(0L)))
      .join(broadcast(d), col(domainCol) === col("__dd"), "left")
      .select(col(urlCol), col(domainCol), col(priorityCol), col("wave"),
        ((col("wave") - 1) *
          coalesce(col("__dm"), lit(DefaultDelayMs))).as("eta_ms"),
        (col("wave") <= maxDepth).as("scheduled"))
    // meter update: scheduled count = min(prior + arrived, cap) − prior,
    // a pure aggregate — no second window pass
    arr.groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
      .join(broadcast(prior), Seq(domainCol), "left")
      .select(col(domainCol),
        (least(coalesce(col("__assigned"), lit(0L)) + col("__n"),
          lit(maxDepth)) - coalesce(col("__assigned"), lit(0L)))
          .as("__assigned"))
      .write.mode("overwrite").parquet(segPath(stateDir, batchId))
    decided
  }

  /** GC of crash debris — see [[SegmentStore.purge]]. */
  def purgeSuperseded(s: SparkSession, dir: String): Seq[String] =
    SegmentStore.purge(s, dir, "m_")

  private def segPath(dir: String, id: Long) = SegmentStore.segPath(dir, id, "m_")

  private def meterSchema(domainCol: String) = StructType(Seq(
    StructField(domainCol, StringType), StructField("__assigned", LongType)))

  /** Fold committed meter segments (except the newest
    * `keepNewestSegments`) into ONE generation — one row per domain,
    * assigned counts summed — absorbing any previous generation. The
    * BudgetStream.compact contract exactly: keep ≥ 1 while a stream
    * feeds the store; sum-safe under crashes.
    */
  def compact(
      s: SparkSession,
      dir: String,
      domainCol: String = "domain",
      keepNewestSegments: Int = 1): Long =
    SegmentStore.compactSums(s, dir, meterSchema(domainCol), Seq(domainCol),
      keepNewestSegments, "m_")

  /** Per-domain assigned counts from the generation (if any) plus every
    * committed segment with id in `[foldedBelow, beforeId)`. Fails
    * loudly if a compaction folded segments at or beyond `beforeId` —
    * a replay past the fold bound would silently double-count itself.
    */
  def loadAssigned(
      s: SparkSession, dir: String, beforeId: Long,
      domainCol: String = "domain"): DataFrame =
    SegmentStore.loadSums(s, dir, beforeId, meterSchema(domainCol),
      Seq(domainCol), "m_")
}
