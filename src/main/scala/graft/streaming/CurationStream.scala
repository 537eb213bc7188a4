package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.Wet
import graft.operators.{Dedup, Html, LangId, PublicSuffix}

/** Streaming crawl-curation ingest — the q153 chain run as a STREAM:
  * `.wet(.gz)` files arrive through the file source's
  * `maxFilesPerTrigger` backpressure ([[graft.io.Wet.readStream]] —
  * the same split-safe record framing as the batch reader), and each
  * micro-batch flows through extract → language routing → persisted
  * exact dedup → persisted per-domain token budget in ONE
  * `foreachBatch`, with every store self-maintaining (`compactEvery`
  * folds segments between epochs, then the purge reclaims crash
  * debris).
  *
  * Replay contract (the store-family discipline throughout): the
  * dedup store segment and the budget meter segment are keyed by the
  * micro-batch id and read strictly-older history only, and the
  * decision output lands under `outDir/batch=<id>` with overwrite —
  * a replayed epoch re-derives byte-identical decisions and rewrites
  * only itself.
  *
  * At 100 TB: WET parsing/extraction/langid are map-only on the file
  * scan; the dedup anti-join reads the compacted store co-located; the
  * budget meter is |domains|-sized and broadcasts; per-epoch state
  * growth is one fingerprint segment + one meter row set.
  */
class CurationStream(
    spark: SparkSession,
    dedupStoreDir: String,
    budgetStateDir: String,
    outDir: String,
    budget: Long,
    keepLangs: Seq[String] = Seq("en", "it"),
    compactEvery: Int = 0) {

  /** One micro-batch of parsed WET records → curation decisions.
    * Exposed for direct replay testing; [[start]] wires it to the
    * stream. `doc_id` = trailing digits of the target URI; `source` =
    * the URI's PSL registered domain (the budget is a per-domain cap).
    * A page carrying `meta robots noindex` is the publisher opting out
    * — dropped before extraction results are consumed.
    */
  def processBatch(records: DataFrame, id: Long): DataFrame = {
    // spread: a micro-batch arriving as ONE file (maxFilesPerTrigger=1,
    // or a gate's single coalesced WET file) is one scan partition —
    // the round-robin exchange fans the heavy extract work out to the
    // cache-fill parallelism. The PUSHDOWN BARRIER against the r17
    // regression (Catalyst pushes the routing filter — whose
    // `n_kept > 0` conjunct inlines the WHOLE extract zip_with chain —
    // through Repartition down into that single-partition scan stage;
    // observed: one 80 s task on 32 idle cores) is the MAIN persist
    // below: since the r18 zero-join routing, `docs` has exactly one
    // consumer (main's fill chain), so a separate docs cache bought no
    // reuse and cost a payload-sized block-manager fill per batch —
    // only the cheap WET framing projections and the doc_id/length_ok
    // filters run below the spread, inside the scan task.
    val docs = graft.operators.Similarity.spread(records
      .filter(col("length_ok"))
      .select(
        regexp_extract(col("target_uri"), "([0-9]+)$", 1)
          .cast("long").as("doc_id"),
        coalesce(nullif(
          PublicSuffix.registeredDomain(col("target_uri")), lit("")),
          lit("unknown")).as("source"),
        col("payload"))
      .filter(col("doc_id").isNotNull))
    // ZERO-JOIN routing (r18): extract, meta-robots, and langid are all
    // map-only projections, so the routing columns COMPOSE by carry
    // instead of three doc_id self-joins back onto the same rows (each
    // join cost an exchange pair + an AQE stage per batch for 1:1
    // row-aligned frames). metaRobots carries source+payload forward,
    // extractMain carries source+noindex, scoreDocs carries the main
    // columns — one linear projection chain over the spread scan.
    // persisted, TWO jobs it does: (1) the extract chain is the batch's
    // dominant per-row cost and TWO consumers read it — the routed
    // filter's main columns and langid's gram build (Catalyst inlines
    // the expression tree into both, doubling the regex work without
    // the barrier); (2) this InMemoryRelation is the PUSHDOWN BARRIER
    // that keeps the routing filter's inlined kernels from crossing the
    // spread into the one-partition WET scan (see the spread comment
    // above; CurationStreamSpec walks the cache layers and pins it).
    val main = graft.util.OperatorCaches.persisted(
      Html.extractMain(
        Html.metaRobots(docs, "payload", "doc_id",
          carry = Seq("source", "payload")),
        "payload", "doc_id", blockSep = "\n",
        carry = Seq("source", "noindex")))
    // persisted: the batch's THREE terminal actions (the dedup segment
    // write, the budget meter write, the decisions write) all consume
    // the routed frame — unpersisted, each re-runs the WET scan +
    // extraction + langid regex chain (the q67/q72 band-key lesson;
    // observed as a 3× single-task serialization at sf1).
    // CACHE CONTRACT: registered with OperatorCaches — [[sink]] releases
    // after the decisions write; direct processBatch callers own release.
    val routed = graft.util.OperatorCaches.persisted(
      LangId.scoreDocs(main, "main_text", "doc_id",
          carry = Seq("source", "noindex", "n_kept", "main_text"))
        .filter(!col("noindex") && col("n_kept") > 0 &&
          col("lang_pred").isin(keepLangs: _*))
        .select(col("doc_id"), col("source"), col("main_text")))
    val fresh = Dedup.dedupeStreamStaged(
      routed, dedupStoreDir, "main_text", "doc_id", id)
    BudgetStream.admitStaged(
      fresh, budgetStateDir, "main_text", "doc_id", budget, id)
  }

  /** foreachBatch adapter (direct use:
    * `Wet.readStream(...).writeStream.foreachBatch(cs.sink()).start()`).
    *
    * Cache release is by DIRECT HANDLE ([[graft.util.OperatorCaches
    * .collecting]]), not a mark/releaseSince window: marks order
    * globally per session, so a second streaming query (or any
    * cache-registering work) sharing this session could otherwise have
    * batch A's release evict batch B's mid-flight persisted frames —
    * silently removing the pushdown barrier the persist exists to
    * install (results stay correct via recompute; the 80 s single-task
    * serialization returns). Handles collected on this thread are
    * exactly this batch's registrations.
    */
  def sink(): (DataFrame, Long) => Unit = (records, id) => {
    val (_, frames) = graft.util.OperatorCaches.collecting {
      processBatch(records, id)
        .write.mode("overwrite").parquet(s"$outDir/batch=$id")
    }
    // terminal action done — release this batch's routed-frame cache
    graft.util.OperatorCaches.releaseFrames(records.sparkSession, frames)
    if (compactEvery > 0 && id > 0 && id % compactEvery == 0) {
      // the two stores are INDEPENDENT (separate directories, separate
      // catalog tables), so their compaction jobs overlap on one small
      // driver thread (guide §2.6 — the second compact's tasks backfill
      // executors the first's tail leaves idle); each store's own
      // compact → purge order is preserved on its thread; the dedup side
      // is joined on every path, so no compaction outlives this batch
      val s = records.sparkSession
      graft.util.SegmentStore.withWrites(Seq { () =>
        Dedup.FingerprintStore.compact(s, dedupStoreDir,
          buckets = 16, keepNewestSegments = 1)
        Dedup.FingerprintStore.purgeSuperseded(s, dedupStoreDir): Unit
      }) {
        BudgetStream.compact(s, budgetStateDir, keepNewestSegments = 1)
        BudgetStream.purgeSuperseded(s, budgetStateDir)
      }
    }
  }

  /** Start the checkpointed stream over a watched .wet directory. */
  def start(
      wetDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): StreamingQuery =
    Wet.readStream(spark, wetDir, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, id: Long) => sink()(df, id) }
      .start()

  /** All decisions so far (hive-discovers the `batch` column). */
  def decisions(): DataFrame = spark.read.parquet(outDir)
}
