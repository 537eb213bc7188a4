package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.util.SegmentStore

/** Corpus deduplication operators — the training-data-pipeline workhorses.
  *
  * Design for 100 TB:
  *  - every variant is a pure distributed dataflow (explode → shuffle on a
  *    compact key → aggregate); nothing is collected to the driver;
  *  - candidate generation always goes through a bucket key (exact hash,
  *    MinHash band, SimHash prefix, n-gram) so the pairwise phase never sees
  *    the full cross product — the only quadratic step is WITHIN a bucket;
  *  - hashes are md5-derived (engine-agnostic) so results are oracle-checkable.
  */
object Dedup {

  // --------------------------------------------------------------------- //
  // Exact dedup
  // --------------------------------------------------------------------- //

  /** Exact (normalized-content) dedup: one representative row per distinct
    * fingerprint — the row with the smallest `idCol` (deterministic, unlike
    * dropDuplicates). Output: idCol of the keeper, fingerprint, group size.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Cross-source duplication matrix — the curation analytic that tells
    * a mixture designer WHERE the duplication lives before any dedup
    * policy runs: for every unordered source pair, how many distinct
    * normalized fingerprints appear in BOTH (a crawl mirroring a curated
    * dump means deduping one against the other, not sampling them as
    * independent), and on the diagonal, how many fingerprints are
    * duplicated WITHIN a source. `n_docs` counts the documents those
    * fingerprints carry (the de-duplicatable mass; for a pair, the two
    * sources' copies combined).
    *
    * Scale shape: phase 1 collapses the corpus to distinct (fp, source)
    * rows with map-side partial counts — a viral fingerprint with
    * millions of copies arrives at the exchange as one row per task,
    * never as a hot window partition; phase 2's fp-keyed self-join fans
    * out per fingerprint by the number of SOURCES carrying it (bounded
    * by the source universe, typically dozens), not by duplicate
    * multiplicity. Output is |sources|²-bounded — driver-safe.
    *
    * Output: (source_a, source_b, shared_fps, n_docs), source_a ≤
    * source_b; within-source rows have source_a = source_b.
    */
  def sourceOverlap(
      docs: DataFrame,
      textCol: String,
      srcCol: String): DataFrame = {
    val bySrc = docs
      .select(fingerprint(col(textCol)).as("fp"), col(srcCol).as("source"))
      .groupBy(col("fp"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val diag = bySrc.filter(col("n_docs") >= 2)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("shared_fps"), sum(col("n_docs")).as("n_docs"))
      .select(col("source").as("source_a"), col("source").as("source_b"),
        col("shared_fps"), col("n_docs"))
    val a = bySrc.select(col("fp"), col("source").as("source_a"),
      col("n_docs").as("__na"))
    val b = bySrc.select(col("fp"), col("source").as("source_b"),
      col("n_docs").as("__nb"))
    val off = a.join(b, Seq("fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_fps"),
        sum(col("__na") + col("__nb")).as("n_docs"))
    diag.unionByName(off)
  }

  /** Filesystem-backed fingerprint store for [[dedupeIncrementalStaged]]:
    * a directory of immutable parquet SEGMENTS (`seg_00000`, `seg_00001`,
    * …), one appended per ingested batch, schema pinned to
    * (fp: string, doc_id: long). Loading reads the committed segment
    * files directly, so the store's plan is ONE parquet relation no
    * matter how many batches were ingested — an in-memory store frame
    * returned per batch would stack another union over every prior
    * batch's plan and degrade an ingest loop to O(n²).
    *
    * CONCURRENCY CONTRACT — one writer per store, by design: segment
    * indices are claimed by listing, so two concurrent ingests could
    * compute the same next index and one would silently overwrite the
    * other's fingerprints (lost history ⇒ duplicates pass forever
    * after). Ingest loops are sequential by nature (each batch's
    * survivors depend on ALL prior batches'), so this is the honest
    * contract, not a gap; a deployment that genuinely needs racing
    * writers should front the store with the put-if-absent claim
    * protocol the upsert tables use
    * ([[graft.streaming.ClaimRegistry]]-style: atomically create a
    * claim for the segment index before writing, abort-and-retry on
    * conflict). The same contract covers [[EvalGramStore]] and
    * [[graft.operators.Retrieval.appendPostings]].
    */
  object FingerprintStore {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

    val schema: StructType =
      StructType(Seq(StructField("fp", StringType), StructField("doc_id", LongType)))

    /** Committed segment paths, oldest first. A segment counts only once
      * its `_SUCCESS` marker exists, so a crash mid-write leaves a
      * partial directory that is never read and is overwritten by the
      * next ingest claiming that index.
      */
    def segments(s: SparkSession, dir: String): Seq[String] =
      SegmentStore.segments(s, dir).map(_._2)

    /** The accumulated store: the current compacted GENERATION (a
      * catalog table bucketed by fp, if [[compact]] has run) unioned
      * with every segment appended since. Schema-pinned, so an empty or
      * missing store loads as an empty frame, never an inference error.
      */
    def load(s: SparkSession, dir: String): DataFrame =
      loadBefore(s, dir, Long.MaxValue)

    /** As [[load]] but only segments with id strictly below
      * `belowSegId` — the history a replayed micro-batch is allowed to
      * see (its own earlier half-commit is not history).
      */
    def loadBefore(s: SparkSession, dir: String, belowSegId: Long): DataFrame = {
      val (gen, segs) = SegmentStore.history(s, dir, belowSegId)
      rows(s, dir, gen, segs)
    }

    /** The generation's rows (if any) unioned with `segs`. */
    private def rows(
        s: SparkSession, dir: String, gen: Option[SegmentStore.Gen],
        segs: Seq[(Long, String)]): DataFrame = {
      val genRows = gen.map(g => s.table(SegmentStore.table(s, dir, g, schema, "fp"))
        .select(col("fp"), col("doc_id")))
      val segRows =
        if (segs.isEmpty) None
        else Some(s.read.schema(schema).parquet(segs.map(_._2): _*))
      (genRows ++ segRows).reduceOption(_ unionByName _)
        .getOrElse(graft.util.Frames.emptyLocal(s, schema))
    }

    /** Name of the newest committed generation's catalog table,
      * registering it first if this session's catalog has never seen it
      * (fresh session over a persisted store, [[SegmentStore.table]]).
      * The marker's content is `<table>\t<data subdir>\t<buckets>`: the
      * data lives under the store dir, so the store survives a session
      * restart with the default in-memory catalog.
      */
    def currentGenTable(s: SparkSession, dir: String): Option[String] =
      SegmentStore.currentGen(s, dir)
        .map(SegmentStore.table(s, dir, _, schema, "fp"))

    /** Fold the current generation + every committed segment into a NEW
      * generation: a catalog table bucketed (and sorted) by fp, scoped
      * to the store dir ([[SegmentStore.commitBucketed]]). After a
      * compaction the per-ingest anti-join reads the store side
      * co-located — no Exchange on the store, only the (small) batch
      * side shuffles to the bucket count; segments appended afterwards
      * ride a union until the next compaction re-folds them.
      *
      * The marker carries no `foldedBelow` bound: the generation covers
      * every segment it folded, and a folded segment a crash left
      * behind is re-folded by the next compaction. The store is a SET
      * of fingerprints, so such a duplicate row is harmless to an fp
      * anti-join. Single concurrent writer, like segment ingest itself.
      *
      * `keepNewestSegments > 0` spares the newest segments from the fold
      * — REQUIRED (=1) while a stream feeds the store: Structured
      * Streaming may replay its most recent epoch, and the replay
      * re-derives that epoch's survivors from its own segment file
      * (see dedupeStreamStaged). Batch-loop ingest
      * (dedupeIncrementalStaged) never replays, so 0 folds everything.
      *
      * @return the new generation's table name
      */
    def compact(
        s: SparkSession,
        dir: String,
        buckets: Int,
        tablePrefix: String = "graft_fp_store",
        keepNewestSegments: Int = 0): String = {
      val prev = SegmentStore.currentGen(s, dir)
      val folded = SegmentStore.foldScope(s, dir, prev, keepNewestSegments)
      SegmentStore.commitBucketed(s, dir, prev, folded, rows(s, dir, prev, folded),
        "fp", buckets, tablePrefix, foldedBelow = None)
    }

    /** GC of crash debris a compaction's post-commit cleanup never got
      * to: every NON-newest generation marker (with its catalog handle
      * and data directory) and any leftover `gen_*.tmp` commit files
      * ([[SegmentStore.purge]]). Folded SEGMENTS a crashed cleanup left
      * behind are reclaimed by the next [[compact]], which re-folds
      * every committed segment.
      *
      * @return paths deleted.
      */
    def purgeSuperseded(s: SparkSession, dir: String): Seq[String] =
      SegmentStore.purge(s, dir)
  }

  /** Incremental (cross-batch) exact dedup through the persisted
    * [[FingerprintStore]] — the scale-safe corpus-build loop: each call
    * anti-joins the batch's fingerprints against the accumulated store
    * (one parquet scan), APPENDS the batch's new fingerprints as a fresh
    * immutable segment at the next unused id, and derives the surviving
    * rows — neither in-batch duplicates (smallest-id keeper wins, as
    * [[exact]]) nor already fingerprinted — from that materialized
    * segment. Per-batch cost is one pass over the batch plus one
    * anti-join against the store, independent of how many batches came
    * before. Re-ingesting a batch appends an empty segment and returns
    * no survivors (idempotent ingest). At 100 TB, compact the segment
    * directory into a table bucketed by `fp` periodically so the
    * per-ingest anti-join co-locates without reshuffling history.
    *
    * This is [[dedupeStreamStaged]] at the next unused segment id: the
    * history below that id is the whole store, and no committed segment
    * sits at it, so the replay skip never fires.
    */
  def dedupeIncrementalStaged(
      batch: DataFrame,
      storeDir: String,
      textCol: String,
      idCol: String): DataFrame =
    fpIngest(batch, storeDir, textCol, idCol,
      SegmentStore.nextId(batch.sparkSession, storeDir))(novelKeepers)

  /** [[dedupeIncrementalStaged]] with a bloom prefilter on the store
    * probe — the 100 TB ingest-loop shape. Identical output by
    * construction (gate-checked against the same oracle as the plain
    * path): a bloom NEGATIVE proves the fingerprint absent from the
    * store, so those keepers commit straight to the segment; only
    * bloom POSITIVES — the true duplicates plus an `fpp` sliver of
    * false positives — go through the exact anti-join, whose probe
    * side therefore shrinks from |batch-distinct| to ≈|dups| +
    * fpp·|batch-distinct|. At a 1% duplicate rate and fpp=0.01 that
    * is ~98% less data entering the join exchange; the bloom build
    * itself is one aggregation over the fingerprint-only store (16
    * bytes/doc), not the corpus.
    *
    * The probed keeper frame is STAGED to parquet once and re-read by
    * its two consumers (the negative branch and the join branch) with
    * the `maybe_seen` filter pushed to the scan — without staging,
    * each branch would re-run the batch's dedup aggregation.
    * Store/segment protocol (commit markers, crash reclaim, replay
    * visibility) is exactly [[dedupeIncrementalStaged]]'s.
    */
  def dedupeIncrementalBloomStaged(
      batch: DataFrame,
      storeDir: String,
      textCol: String,
      idCol: String,
      fpp: Double = 0.01): DataFrame = {
    import graft.functions.BloomFunctions
    val s = batch.sparkSession
    val segId = SegmentStore.nextId(s, storeDir)
    val staging = f"$storeDir/tmp_probe_$segId%05d"
    val survivors = fpIngest(batch, storeDir, textCol, idCol, segId) { (found, store) =>
      val keepers = found.select(col("fp"), col("keep_id").cast("long").as("doc_id"))
      // parquet/catalog row count: metadata-only, no data scan
      val storeRows = store.count()
      if (storeRows == 0L) keepers // empty history — no bloom, no join
      else {
        val bloom = BloomFunctions.bloomFor(store, "fp", storeRows, fpp)
        keepers
          .withColumn("maybe_seen", BloomFunctions.mightContain(bloom, col("fp")))
          .write.mode("overwrite").parquet(staging)
        val staged = s.read.parquet(staging)
        staged.filter(!col("maybe_seen"))
          .unionByName(staged.filter(col("maybe_seen"))
            .join(store.select(col("fp")), Seq("fp"), "left_anti"))
          .select(col("fp"), col("doc_id"))
      }
    }
    graft.io.Sinks.truncatePath(s, staging)
    survivors
  }

  /** [[dedupeIncrementalStaged]] for Structured Streaming's foreachBatch
    * protocol: the segment is keyed by the MICRO-BATCH id, which is what
    * makes at-least-once delivery exactly-once — a replayed epoch
    * overwrites its own (possibly half-written, never-committed) segment,
    * or, if the segment already committed, skips the merge entirely and
    * re-derives the identical survivors from it. The anti-join history is
    * the generation table plus segments with ids STRICTLY below this
    * batch (a replay must not see its own earlier attempt as history).
    * One writer per store; a compaction running between epochs must spare
    * the newest segment (`FingerprintStore.compact(keepNewestSegments=1)`)
    * because only the newest epoch can ever replay.
    */
  def dedupeStreamStaged(
      batch: DataFrame,
      storeDir: String,
      textCol: String,
      idCol: String,
      batchId: Long): DataFrame =
    fpIngest(batch, storeDir, textCol, idCol, batchId)(novelKeepers)

  /** The one exact-fingerprint ingest core: segment `segId` of
    * `storeDir` is this batch's. Unless it already committed (a replayed
    * epoch), the batch's keepers (fp, keep_id, dup_count) and the store
    * history strictly below `segId` go through `novel`, whose (fp,
    * doc_id) rows commit as the segment. Survivors are the batch rows
    * whose id the committed segment holds — read back, so a replay
    * re-derives the identical set. Nothing ever reads a file it is
    * writing: the history is fixed before the segment is created.
    */
  private def fpIngest(
      batch: DataFrame, storeDir: String, textCol: String, idCol: String,
      segId: Long)(novel: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val s = batch.sparkSession
    val seg = SegmentStore.segPath(storeDir, segId)
    if (!SegmentStore.segments(s, storeDir).exists(_._1 == segId)) {
      // a null-text doc has a null fingerprint; stored as-is it would
      // pass the anti-join in EVERY later batch (null never equi-matches
      // null). A sentinel — unreachable by md5's 32-hex output — keeps
      // null-text docs deduping across batches through a plain
      // (bucketable) equi-join; a null-SAFE join would break the
      // post-compaction co-located read (hash keys wrap in coalesce,
      // losing bucket alignment).
      val keepers = exact(batch, textCol, idCol)
        .withColumn("fp", coalesce(col("fp"), lit("__null_text__")))
      // overwrite: reclaims a partial (uncommitted) directory left by a
      // crashed attempt at the same id
      novel(keepers, FingerprintStore.loadBefore(s, storeDir, segId))
        .write.mode("overwrite").parquet(seg)
    }
    val committed = s.read.schema(FingerprintStore.schema).parquet(seg)
    batch.join(committed.select(col("doc_id").cast(batch.schema(idCol).dataType).as(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Keepers the store has never fingerprinted (the plain probe: one
    * anti-join against the store, gen table bucketed and shuffle-free).
    */
  private def novelKeepers(keepers: DataFrame, store: DataFrame): DataFrame =
    keepers.join(store.select(col("fp")), Seq("fp"), "left_anti")
      .select(col("fp"), col("keep_id").cast("long").as("doc_id"))

  /** Incremental NEAR-dup dedup through the persisted store — the
    * cross-batch twin of [[dedupeIncrementalStaged]], closing the gap
    * where a new batch was only ever checked against PRIOR batches'
    * exact fingerprints: here the store persists each document's
    * MinHash LSH band keys, so a near-duplicate of a document ingested
    * three batches ago drops just like an exact one.
    *
    * Store: [[FingerprintStore]] UNCHANGED — `fp` holds the combined
    * band key (`"b<band>:<md5(banded signature)>"`, [[bandKeys]]),
    * `doc_id` the smallest id seen owning that key, one row per key,
    * `bands` rows per doc. Same immutable `_SUCCESS`-gated segments,
    * same bucketed compaction (the per-ingest probe against a compacted
    * store reads the store side with no Exchange), same crash story.
    *
    * Policy (the greedy large-corpus rule, as [[dedupeCorpus]]): a doc
    * is dropped iff ANY of its band keys is owned by a smaller-id doc —
    * surviving or not, which is why every batch doc's keys register,
    * not just survivors' — so with ascending-id ingest batches the
    * sequential loop is EQUAL to one global pass of "drop b when a
    * smaller-id a shares a band" (the SQL-expressible oracle form).
    * Candidate-level (band-match) dropping, no Jaccard verify: at
    * 100 TB the verify pass re-reads corpus text per candidate, and
    * the store holds keys, not text; tune precision with k/bands
    * (8/4 ≈ pairs over ~0.72 estimated Jaccard at 2-row bands).
    * Owner-aware matching (`owner < id`, not mere key existence) makes
    * a replayed batch idempotent: its own keys, re-seen in the store,
    * are owned by itself. Docs with no shingles (null/short text) carry
    * no keys and always survive — run exact dedup first for those.
    *
    * This is [[dedupeNearStreamStaged]] at the next unused segment id,
    * as [[dedupeIncrementalStaged]] is [[dedupeStreamStaged]].
    */
  def dedupeNearIncrementalStaged(
      batch: DataFrame,
      storeDir: String,
      textCol: String,
      idCol: String,
      k: Int = 8,
      bands: Int = 4,
      ngram: Int = 2): DataFrame =
    bandIngest(batch, storeDir, textCol, idCol, k, bands, ngram,
      SegmentStore.nextId(batch.sparkSession, storeDir))(nearProbe(idCol))

  /** [[dedupeNearIncrementalStaged]] with a bloom prefilter on BOTH
    * store probes — [[dedupeIncrementalBloomStaged]]'s trick applied to
    * the band-key store. Most of a fresh batch's band keys exist in no
    * prior batch; a bloom over the store's keys proves that per key, so
    * (a) the cross-batch owner join consumes only bloom-positive keys
    * and (b) the register-write's novelty anti-join runs only over
    * bloom-positive keys (negatives are new by proof). Output is
    * bit-identical to the plain path — gate-checked against the same
    * oracle (q76 vs q67). The `maybe_seen` flag is computed on the
    * already-materialized key frame, so the probe costs one map pass.
    */
  def dedupeNearIncrementalBloomStaged(
      batch: DataFrame,
      storeDir: String,
      textCol: String,
      idCol: String,
      k: Int = 8,
      bands: Int = 4,
      ngram: Int = 2,
      fpp: Double = 0.01): DataFrame = {
    import graft.functions.BloomFunctions
    bandIngest(batch, storeDir, textCol, idCol, k, bands, ngram,
      SegmentStore.nextId(batch.sparkSession, storeDir)) { (keys, store) =>
      val storeRows = store.count() // metadata-only
      if (storeRows == 0L) nearProbe(idCol)(keys, store)
      else {
        val bloom = BloomFunctions.bloomFor(store, "fp", storeRows, fpp)
        val flagged = keys
          .withColumn("maybe_seen", BloomFunctions.mightContain(bloom, col("fp")))
        // only keys that MIGHT have a store owner enter the owner join;
        // the within-batch self-join is store-independent and unchanged
        val drops = nearDropIds(
          flagged.filter(col("maybe_seen")).drop("maybe_seen"),
          store, idCol, withinKeys = Some(keys))
        // min owner per key once; novelty check only where the bloom
        // cannot prove it (skinny aggregate, checkpointed for its two
        // consumers below)
        val agged = flagged
          .groupBy(col("fp"))
          .agg(min(col(idCol)).cast("long").as("doc_id"),
            max(col("maybe_seen")).as("maybe_seen"))
          .localCheckpoint(false) // lazy — both consumers evaluate in
                                  // the segment-write action
        val news = agged.filter(!col("maybe_seen")).drop("maybe_seen")
          .unionByName(agged.filter(col("maybe_seen")).drop("maybe_seen")
            .join(store.select(col("fp")), Seq("fp"), "left_anti"))
        (drops, news)
      }
    }
  }

  /** The one band-key ingest core: segment `segId` of `storeDir` is this
    * batch's. The batch's band keys are materialized ONCE — the frame
    * feeds four consumers (both sides of the within-batch self-join, the
    * store probe, the register write) and its lineage is the full
    * tokenize+minhash scan; unmaterialized, that scan re-runs per
    * consumer (measured 3.1× the corpus ratio at 10× data). `probe`
    * takes them and the store history strictly below `segId` to (drop
    * ids, keys to register); the keys commit as the segment unless it
    * already committed (a replayed epoch). Survivors are re-derived,
    * not read back (see [[dedupeNearStreamStaged]]).
    */
  private def bandIngest(
      batch: DataFrame, storeDir: String, textCol: String, idCol: String,
      k: Int, bands: Int, ngram: Int, segId: Long)(
      probe: (DataFrame, DataFrame) => (DataFrame, DataFrame)): DataFrame = {
    val s = batch.sparkSession
    val keys = bandKeys(
      minhashSignatures(batch, textCol, idCol, k, ngram), idCol, bands)
      // LAZY checkpoint (r17 verdict #3): the epoch's segment write (or,
      // on a committed replay, the caller's survivors action) is the
      // next action and materializes these blocks inside its own job —
      // the dedicated eager action per epoch was pure job count. The
      // frame is skinny (id, fp) × bands; at 100 TB stage it under
      // storeDir instead of executor storage.
      .localCheckpoint(false)
    val (dropIds, newKeys) = probe(keys, FingerprintStore.loadBefore(s, storeDir, segId))
    if (!SegmentStore.segments(s, storeDir).exists(_._1 == segId))
      newKeys.write.mode("overwrite").parquet(SegmentStore.segPath(storeDir, segId))
    batch.join(dropIds, Seq(idCol), "left_anti")
  }

  /** The plain band probe: every store and in-batch owner match. */
  private def nearProbe(idCol: String)(
      keys: DataFrame, store: DataFrame): (DataFrame, DataFrame) =
    (nearDropIds(keys, store, idCol), nearNewKeys(keys, store, idCol))

  /** Near-dup drop set: batch docs with any band key owned by a
    * smaller-id doc — across batches (store owner) or within the batch
    * (banded self equi-join, the lshCandidates shape — bucket-keyed,
    * never all-pairs). Owner-aware (`owner < id`, not mere existence) so
    * a replayed batch's own registered keys don't kill it.
    * `withinKeys` overrides the frame used for the self-join (the bloom
    * path narrows `keys` to store-probable ones, which must not narrow
    * the WITHIN-batch comparison).
    */
  private def nearDropIds(
      keys: DataFrame, store: DataFrame, idCol: String,
      withinKeys: Option[DataFrame] = None): DataFrame = {
    val crossDrop = keys
      .join(store.select(col("fp"), col("doc_id").as("__owner")), Seq("fp"))
      .filter(col("__owner") < col(idCol))
      .select(col(idCol)).distinct()
    val wk = withinKeys.getOrElse(keys)
    val withinDrop = wk.as("a")
      .join(wk.as("b"),
        col("a.fp") === col("b.fp") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"b.$idCol").as(idCol)).distinct()
    crossDrop.unionByName(withinDrop).distinct()
  }

  /** Keys to register for a batch: EVERY batch doc's keys (dropped docs'
    * too — see the [[dedupeNearIncrementalStaged]] policy), min owner per
    * key, only keys the store has never seen.
    */
  private def nearNewKeys(
      keys: DataFrame, store: DataFrame, idCol: String): DataFrame =
    keys
      .groupBy(col("fp"))
      .agg(min(col(idCol)).cast("long").as("doc_id"))
      .join(store.select(col("fp")), Seq("fp"), "left_anti")

  /** [[dedupeNearIncrementalStaged]] for Structured Streaming's
    * foreachBatch protocol — the near-dup twin of [[dedupeStreamStaged]]:
    * the band-key segment is keyed by the MICRO-BATCH id, so a replayed
    * epoch overwrites its own uncommitted segment or, if it committed,
    * skips the write entirely. Survivors are RE-DERIVED on replay rather
    * than read back: the drop set is a pure function of the (replayed,
    * deterministic) batch and `loadBefore(batchId)` — history strictly
    * below this epoch, which neither the epoch's own commit nor a
    * compaction sparing the newest segment can change — so a replay
    * emits byte-identical survivors. One writer per store;
    * `FingerprintStore.compact(keepNewestSegments = 1)` between epochs,
    * exactly as the exact-dup stream.
    */
  def dedupeNearStreamStaged(
      batch: DataFrame,
      storeDir: String,
      textCol: String,
      idCol: String,
      batchId: Long,
      k: Int = 8,
      bands: Int = 4,
      ngram: Int = 2): DataFrame =
    bandIngest(batch, storeDir, textCol, idCol, k, bands, ngram, batchId)(nearProbe(idCol))

  /** Per-document combined LSH band keys: one row per (doc, band),
    * `fp = "b<band>:<md5 of the band's signature slice>"` — the single-
    * column join/store key form of [[lshCandidates]]' (band, sig) pair,
    * chosen so a band store bucketed on `fp` co-locates the probe join
    * on ONE column (a two-column join over a one-column bucket layout
    * would re-shuffle the store side).
    */
  def bandKeys(signatures: DataFrame, idCol: String, bands: Int): DataFrame = {
    val mhCols = signatures.columns.filter(_.startsWith("mh"))
    require(mhCols.nonEmpty && mhCols.length % bands == 0,
      s"bands=$bands must divide k=${mhCols.length}")
    val rowsPerBand = mhCols.length / bands
    val bandCols = (0 until bands).map { b =>
      concat_ws(":", lit(s"b$b"),
        md5(concat_ws(",",
          mhCols.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
            .toIndexedSeq.map(col): _*)))
    }
    signatures.select(col(idCol), explode(array(bandCols: _*)).as("fp"))
  }

  /** End-to-end corpus dedup: exact-dup removal, then near-dup removal via
    * MinHash+LSH candidates verified by n-gram Jaccard ≥ `threshold` —
    * keeping the smallest-id document of each duplicate group (greedy:
    * a doc is dropped if it near-matches ANY smaller-id doc, the standard
    * large-corpus policy that avoids transitive-closure computation).
    * Returns the surviving rows of `docs`, original schema.
    *
    * Lineage note: the survivor frame feeds three branches (signatures,
    * gram verification, final anti-join) and is recomputed per branch — a
    * production 100 TB run materializes each stage to a table between
    * branches (exact-dedup output, then candidate pairs, then survivors)
    * rather than caching a corpus-sized frame in executor memory.
    *
    * @param stagingDir when set, the thrice-consumed exact-dedup stage is
    *   MATERIALIZED to `stagingDir/survivors` as a parquet table instead of
    *   executor storage — the 100 TB path (durable across executor loss,
    *   no cache pressure); when None, in-session persist + eager checkpoint.
    */
  def dedupeCorpus(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.8,
      k: Int = 8,
      bands: Int = 4,
      ngram: Int = 3,
      stagingDir: Option[String] = None): DataFrame = {
    val exactKeep = exact(docs, textCol, idCol).select(col("keep_id").as(idCol))
    // the exact-dedup output feeds three consumers (signatures, gram
    // verification, final anti-join); make it run once.
    val joined = docs.join(exactKeep, idCol)
    val survivors = stagingDir match {
      case Some(dir) =>
        joined.write.mode("overwrite").parquet(s"$dir/survivors")
        docs.sparkSession.read.parquet(s"$dir/survivors")
      case None =>
        joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // tokenize ONCE: the gram arrays feed both the minhash signatures and
    // the jaccard verification (tokenization is the dominant per-row cost;
    // deriving both consumers from one persisted gram frame saves two full
    // regex passes over the surviving corpus)
    val grams0 = survivors.select(col(idCol),
      array_distinct(wordNgrams(col(textCol), ngram)).as("grams"))
    val grams = stagingDir match {
      case Some(dir) =>
        grams0.write.mode("overwrite").parquet(s"$dir/grams")
        docs.sparkSession.read.parquet(s"$dir/grams")
      case None =>
        grams0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val sigs = minhashFromGrams(grams, idCol, k)
    val cand = lshCandidates(sigs, idCol, bands)
    // verify candidates with exact jaccard, blocked by nothing further
    // (candidate count is already LSH-bounded)
    val verified = cand
      .join(grams.select(col(idCol).as("id_a"), col("grams").as("ga")), "id_a")
      .join(grams.select(col(idCol).as("id_b"), col("grams").as("gb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("ga"), col("gb"))).cast("double") /
          (size(col("ga")) + size(col("gb")) -
            size(array_intersect(col("ga"), col("gb")))).cast("double")).as("j"))
      .filter(col("j") >= threshold)
    val dropIds = verified.select(col("id_b").as(idCol)).distinct()
    val antiJoined = survivors.join(dropIds, Seq(idCol), "left_anti")
    if (stagingDir.isDefined) antiJoined // inputs are durable tables: stay lazy
    else {
      // materialize eagerly (truncating lineage) so the survivors/grams
      // caches can be released HERE instead of leaking for the session
      // lifetime; the checkpoint blocks are reclaimed by the ContextCleaner
      // once the returned frame is unreferenced, unlike an explicit persist
      val result = antiJoined.localCheckpoint(true)
      survivors.unpersist()
      grams.unpersist()
      result
    }
  }

  /** MinHash signatures from PRE-COMPUTED distinct-gram arrays (the shared
    * tokenization inside dedupeCorpus); same output as minhashSignatures.
    */
  private def minhashFromGrams(grams: DataFrame, idCol: String, k: Int): DataFrame = {
    val params = minhashParams(k)
    val shingled = grams
      .select(col(idCol), explode(col("grams")).as("sh"))
      .withColumn("h", fieldHash(col("sh")))
    val aggs = params.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(MinhashPrime))).as(s"mh$i")
    }
    shingled.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  // --------------------------------------------------------------------- //
  // MinHash + LSH
  // --------------------------------------------------------------------- //

  /** Fixed (a, b) parameters for the k universal hash functions
    * h_i(x) = (a_i * x + b_i) mod p. Constants are arbitrary odd values
    * below 2^30 so a*x+b stays < 2^63 (no overflow under ANSI mode).
    */
  def minhashParams(k: Int): Seq[(Long, Long)] =
    (1 to k).map(i => (2L * i * 1000003L + 1L, i * 777767777L % MinhashPrime))

  /** MinHash signature: doc_id + k minhash columns `mh0..mh{k-1}` over word
    * `n`-gram shingles. One explode + one groupBy — shuffle key is the doc id,
    * payload is k longs per doc.
    */
  def minhashSignatures(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 8,
      ngram: Int = 3): DataFrame = {
    val params = minhashParams(k)
    val shingled = docs
      .select(col(idCol), explode(array_distinct(wordNgrams(col(textCol), ngram))).as("sh"))
      .withColumn("h", fieldHash(col("sh")))
    val aggs = params.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(MinhashPrime))).as(s"mh$i")
    }
    shingled.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: band the signature (`bands` bands of `k/bands`
    * rows), bucket-join on (band, banded-signature hash), emit distinct
    * (id_a < id_b) candidate pairs. The join key is a tiny string hash, so
    * the shuffle is uniform unless the corpus genuinely contains mass
    * duplication (in which case AQE skew-join splits the bucket).
    */
  def lshCandidates(signatures: DataFrame, idCol: String, bands: Int): DataFrame = {
    val mhCols = signatures.columns.filter(_.startsWith("mh"))
    require(mhCols.length % bands == 0, s"bands=$bands must divide k=${mhCols.length}")
    val rowsPerBand = mhCols.length / bands
    val bandCols = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        md5(concat_ws(",", mhCols.slice(b * rowsPerBand, (b + 1) * rowsPerBand).toIndexedSeq.map(col): _*))
          .as("sig"))
    }
    val banded = signatures
      .select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.sig"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  // --------------------------------------------------------------------- //
  // SimHash
  // --------------------------------------------------------------------- //

  /** `bits`-bit SimHash over word tokens: per bit position, sum +1/-1 votes
    * of each distinct token's hash bit; bit set iff the vote is >= 0.
    * Distributed as explode(tokens) x explode(bits) → two-level aggregation.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String, bits: Int = 16): DataFrame = {
    val tokenHashes = docs
      .select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("tok"))
      .withColumn("h", stableHash60(col("tok")))
    tokenHashes
      .select(col(idCol), col("h"), explode(sequence(lit(0), lit(bits - 1))).as("bit"))
      .withColumn("vote", when(expr("shiftright(h, cast(bit as int))") % 2 === 1, 1).otherwise(-1))
      .groupBy(col(idCol), col("bit"))
      .agg(sum(col("vote")).as("votes"))
      .groupBy(col(idCol))
      .agg(sum(when(col("votes") >= 0, expr("shiftleft(1L, cast(bit as int))")).otherwise(0L))
        .as("simhash"))
  }

  /** Hamming distance between two simhash values (bit_count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // --------------------------------------------------------------------- //
  // N-gram Jaccard
  // --------------------------------------------------------------------- //

  /** Pairwise word-n-gram Jaccard similarity, blocked by `blockCol` (e.g.
    * source/shard/LSH bucket) so the self-join never goes global: explode
    * distinct n-grams, equi-join on (block, gram), count intersections, then
    * |A ∪ B| = |A| + |B| − |A ∩ B|.
    *
    * Formulation note: joining gram-SET rows per pair and using
    * `array_intersect` looks cheaper (one row per pair through the shuffle)
    * but measured 3× SLOWER at sf0.1 — a per-pair string hash-set build
    * costs more than shuffling skinny (block, gram) rows, and on realistic
    * sparse-overlap corpora the explode form shuffles only genuinely shared
    * grams while the pair form still pays for every block pair.
    */
  /** @param maxDf hot-gram guard: grams whose within-block document
    *   frequency exceeds `maxDf` are dropped from CANDIDATE GENERATION only
    *   (the (block, gram) self-join is quadratic in per-gram df — one
    *   stopword gram in a big block is a df² straggler at scale); surviving
    *   candidate pairs are then verified with the exact FULL-gram Jaccard,
    *   so scores are unaffected. Only pairs whose every shared gram is hot
    *   are missed — the standard df-capping tradeoff. Default = uncapped
    *   (exact, single-pass).
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      blockCol: String,
      n: Int = 3,
      maxDf: Int = Int.MaxValue): DataFrame = {
    val grams = docs.select(
      col(idCol), col(blockCol).as("block"),
      array_distinct(wordNgrams(col(textCol), n)).as("grams"))
      .filter(size(col("grams")) > 0)
    val sized = grams.withColumn("n_grams", size(col("grams")))
    val exploded = sized.select(col(idCol), col("block"), col("n_grams"), explode(col("grams")).as("g"))
    if (maxDf == Int.MaxValue) {
      val a = exploded.as("a")
      val b = exploded.as("b")
      a.join(b, col("a.block") === col("b.block") && col("a.g") === col("b.g") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
        .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
          col("a.n_grams").as("na"), col("b.n_grams").as("nb"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("jaccard",
          col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
        .select(col("id_a"), col("id_b"), col("jaccard"))
    } else {
      val rare = exploded.groupBy(col("block"), col("g"))
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf)
        .select(col("block"), col("g"))
      val capped = exploded.select(col(idCol), col("block"), col("g"))
        .join(rare, Seq("block", "g"))
      val a = capped.as("a")
      val b = capped.as("b")
      val cand = a.join(b, col("a.block") === col("b.block") && col("a.g") === col("b.g") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
        .distinct()
      // exact verify on FULL gram sets — candidate count is df-bounded, so
      // the per-pair array intersection is no longer the quadratic path
      val inter = size(array_intersect(col("ga"), col("gb")))
      cand
        .join(sized.select(col(idCol).as("id_a"), col("grams").as("ga"),
          col("n_grams").as("na")), "id_a")
        .join(sized.select(col(idCol).as("id_b"), col("grams").as("gb"),
          col("n_grams").as("nb")), "id_b")
        .select(col("id_a"), col("id_b"),
          (inter.cast("double") / (col("na") + col("nb") - inter).cast("double"))
            .as("jaccard"))
    }
  }

  /** N-gram CONTAINMENT pairs — the asymmetric complement to
    * [[ngramJaccardPairs]]: C(A,B) = |S(A)∩S(B)| / min(|S(A)|,|S(B)|),
    * the Broder containment coefficient. Jaccard misses the
    * excerpt/quote/boilerplate-wrap case entirely — a 100-gram doc
    * fully contained in a 10 000-gram doc has J ≈ 0.01 but C = 1.0 —
    * and containment is what a curation dedup needs to drop extracts
    * whose every shingle already exists in a kept page.
    *
    * Candidates come from grams with within-block df ≤ `maxDf`; the
    * verify is EXACT over the candidates' full distinct gram sets,
    * all-integer (parts-per-10k, floor division — the q124 discipline,
    * no float threshold).
    *
    * `maxDf` defaults to `Int.MaxValue` — EXACT recall unless the
    * caller opts into the q21 hot-gram guard (a stopword gram's df²
    * join rows are the straggler at scale). The guard trades recall
    * for that bound: a pair whose EVERY shared gram has df > maxDf
    * within its block yields no candidate and is silently missed, and
    * boilerplate-wrap pairs — the case this operator exists for — are
    * precisely the ones whose shared shingles run hot. Callers who cap
    * should pick maxDf above the expected duplicate multiplicity of
    * the content they want caught, not of the boilerplate they don't.
    *
    * Scale shape: block+gram-keyed candidate join bounded by maxDf²
    * per gram, one id-keyed join back to gram sets, no all-pairs scan.
    * Output: (id_a, id_b, n_a, n_b, n_common, contain_pp10k) for pairs
    * with containment ≥ minPp10k/10000, id_a < id_b.
    */
  def containmentPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      blockCol: String,
      n: Int = 3,
      maxDf: Int = Int.MaxValue,
      minPp10k: Long = 9000L): DataFrame = {
    val grams = docs.select(
      col(idCol), col(blockCol).as("block"),
      array_distinct(wordNgrams(col(textCol), n)).as("grams"))
      .filter(size(col("grams")) > 0)
    val sized = grams.withColumn("n_grams", size(col("grams")))
    val exploded = sized.select(col(idCol), col("block"),
      explode(col("grams")).as("g"))
    val rare = exploded.groupBy(col("block"), col("g"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("block"), col("g"))
    val capped = exploded.join(rare, Seq("block", "g"))
    val a = capped.as("a")
    val b = capped.as("b")
    val cand = a.join(b,
      col("a.block") === col("b.block") && col("a.g") === col("b.g") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val inter = size(array_intersect(col("ga"), col("gb"))).cast("long")
    cand
      .join(sized.select(col(idCol).as("id_a"), col("grams").as("ga"),
        col("n_grams").cast("long").as("n_a")), "id_a")
      .join(sized.select(col(idCol).as("id_b"), col("grams").as("gb"),
        col("n_grams").cast("long").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        inter.as("n_common"))
      .withColumn("contain_pp10k",
        expr("(n_common * 10000) div least(n_a, n_b)"))
      .filter(col("n_common") * 10000 >= lit(minPp10k) *
        least(col("n_a"), col("n_b")))
  }

  /** EXACT all-pairs Jaccard similarity join via PREFIX FILTERING —
    * Bayardo et al., "Scaling Up All Pairs Similarity Search" (WWW '07):
    * every pair of documents whose distinct-token sets reach
    * `J = |∩|/|∪| ≥ t100/100`, with NO recall loss and NO all-pairs
    * scan. This is the exact-recall complement to the approximate
    * candidate generators in this family ([[ngramJaccardPairs]]'s
    * `maxDf` cap silently drops pairs that share only hot tokens; LSH
    * banding drops pairs that miss every band).
    *
    * The trick: order each doc's tokens by a GLOBAL canonical order
    * (ascending document frequency, ties by token — rarest first) and
    * index only each doc's PREFIX of length `n − ceil(t·n) + 1`. If
    * J(a,b) ≥ t then |∩| ≥ t·|∪| ≥ t·max(na,nb), so the order-smallest
    * shared token cannot sit past either prefix (a suffix of length
    * `ceil(t·n) − 1 < t·n ≤ |∩|` cannot hold the whole intersection) —
    * candidates = the prefix-token equi-join, provably complete. At
    * corpus scale this is the whole fight: the quadratic blowup of a
    * naive token join comes from stopword-frequency tokens, and under
    * the rarest-first order those land in a prefix only for docs made
    * almost entirely of them. Size pruning (`t·na ≤ nb ≤ na/t`) rides
    * the join condition. Verification is an exact `array_intersect`
    * over the candidate pairs alone. (PPJoin's positional refinement —
    * Xiao et al., WWW '08 — could cut candidates further; prefix +
    * size filtering already removes the asymptotic problem.)
    *
    * Output (all-integer, hash-stable): (id_a, id_b, n_common, n_a,
    * n_b, jaccard_pp10k = ⌊10000·|∩|/|∪|⌋), id_a < id_b, threshold via
    * the pure-integer comparison `100·|∩| ≥ t100·|∪|`.
    */
  def allPairsJaccard(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      t100: Int): DataFrame = {
    require(t100 >= 1 && t100 <= 100,
      "allPairsJaccard: t100 must be in [1, 100]")
    val tok = Similarity.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        explode(array_distinct(tokens(col(textCol)))).as("tok"))
      .filter(col("tok") =!= "")
    val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // per-doc token arrays — `ts` in the canonical (df asc, token asc)
    // prefix order AND `tss` string-sorted for the verify merge (any
    // shared total order verifies; binary string order is what the
    // codegen'd two-pointer intersect walks). Consumed three times
    // (prefix explode + both verify joins) → persist, materialized by
    // whichever job runs first.
    // CACHE CONTRACT: registered with OperatorCaches — the caller
    // releases via OperatorCaches.release(spark) after its terminal
    // action on the returned (lazy) frame.
    val lists = graft.util.OperatorCaches.persisted(
      tok.join(dfreq, Seq("tok"))
        .groupBy(col(idCol))
        .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("dt"))
        .select(col(idCol),
          transform(col("dt"), e => e.getField("tok")).as("ts"),
          array_sort(transform(col("dt"), e => e.getField("tok"))).as("tss"),
          size(col("dt")).cast("long").as("n")))
    val prefixLen =
      expr(s"cast(n - (($t100 * n + 99) div 100) + 1 as int)")
    val prefix = lists.select(col(idCol), col("n"),
      explode(slice(col("ts"), lit(1), prefixLen)).as("ptok"))
    val cand = prefix
      .select(col(idCol).as("id_a"), col("n").as("na"), col("ptok"))
      .join(prefix.select(col(idCol).as("id_b"), col("n").as("nb"),
        col("ptok")), Seq("ptok"))
      .filter(col("id_a") < col("id_b") &&
        col("na") * 100L >= lit(t100.toLong) * col("nb") &&
        col("nb") * 100L >= lit(t100.toLong) * col("na"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // intersection count via the codegen'd sorted-merge (no hash set,
    // no materialized intersection array — see SortedIntersectCount)
    val inter = {
      import org.apache.spark.sql.graft.{ColumnBridge, SortedIntersectCount}
      ColumnBridge.column(SortedIntersectCount(
        ColumnBridge.expression(col("ta")), ColumnBridge.expression(col("tb"))))
    }
    cand
      .join(lists.select(col(idCol).as("id_a"), col("tss").as("ta"),
        col("n").as("n_a")), "id_a")
      .join(lists.select(col(idCol).as("id_b"), col("tss").as("tb"),
        col("n").as("n_b")), "id_b")
      .withColumn("n_common", inter)
      .filter(col("n_common") * 100L >=
        lit(t100.toLong) * (col("n_a") + col("n_b") - col("n_common")))
      .select(col("id_a"), col("id_b"), col("n_common"),
        col("n_a"), col("n_b"),
        expr("(n_common * 10000) div (n_a + n_b - n_common)")
          .as("jaccard_pp10k"))
  }

  /** Simhash near-duplicates by HAMMING RADIUS — Manku et al. (WWW '07):
    * pairs of documents whose `bits`-bit feature simhashes differ in at
    * most `maxHamming` positions. Candidate generation is the pigeonhole
    * band trick: split the fingerprint into `bands` equal slices — any
    * pair within Hamming distance `bands − 1` must agree EXACTLY on at
    * least one slice (fewer than `bands` flipped bits cannot touch every
    * slice) — so candidates come from `bands` equi-joins on
    * (band, slice-bits), never an all-pairs scan, and the exact
    * `bit_count(xor) <= maxHamming` verify runs on candidates alone.
    * With `maxHamming = bands − 1` the candidate set is a strict
    * superset of the answer (deterministic recall 1.0). Fingerprints
    * use word n-gram features (n ≥ 2 recommended: unigram simhash
    * saturates on a small vocabulary — measured 39% of ALL pairs within
    * radius 3 on the test corpus vs 0.01% with bigrams).
    */
  def simhashNearDups(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      bits: Int = 60,
      bands: Int = 4,
      maxHamming: Int = 3,
      ngram: Int = 2): DataFrame = {
    require(bits % bands == 0, s"bits=$bits must split into bands=$bands")
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming=$maxHamming < bands=$bands")
    val width = bits / bands
    val mask = (1L << width) - 1
    val fp = docs
      .select(col(idCol),
        explode(array_distinct(wordNgrams(col(textCol), ngram))).as("tok"))
      .withColumn("h", stableHash60(col("tok")))
      .select(col(idCol), col("h"),
        explode(sequence(lit(0), lit(bits - 1))).as("bit"))
      .withColumn("vote",
        when(expr("shiftright(h, cast(bit as int))") % 2 === 1, 1).otherwise(-1))
      .groupBy(col(idCol), col("bit"))
      .agg(sum(col("vote")).as("votes"))
      .groupBy(col(idCol))
      .agg(sum(when(col("votes") >= 0,
        expr("shiftleft(1L, cast(bit as int))")).otherwise(0L)).as("sh"))
    val banded = fp.select(col(idCol), col("sh"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("key",
        expr(s"shiftright(sh, cast(band * $width as int))")
          .bitwiseAND(lit(mask)))
    val a = banded.as("a")
    val b = banded.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    cand
      .join(fp.select(col(idCol).as("id_a"), col("sh").as("sha")), "id_a")
      .join(fp.select(col(idCol).as("id_b"), col("sh").as("shb")), "id_b")
      .select(col("id_a"), col("id_b"),
        expr("cast(bit_count(sha ^ shb) as bigint)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Cross-source LEAKAGE AUDIT — the train/test-split integrity report:
    * for every pair of DISTINCT sources, how many near-duplicate document
    * pairs straddle them (exact n-gram Jaccard ≥ threshold) and how bad
    * the worst one is. Same df-capped candidate shape as
    * [[ngramJaccardPairs]]' scale path — candidates only through grams
    * with corpus df ≤ maxDf, with the source-inequality pushed INTO the
    * candidate join so same-source pairs never materialize — then exact
    * full-gram-set verify on candidates alone. Output is
    * |sources|²-bounded: (src_a, src_b, n_pairs, max_jaccard) with the
    * pair normalized (src_a < src_b).
    *
    * RECALL CAVEAT (inherent to the df cap, and invisible to the gate
    * because the oracle applies the identical cap): a near-dup pair is
    * surfaced only if it shares at least one gram with corpus df ≤
    * maxDf. "Near-dups share rare grams" is a HEURISTIC that holds for
    * verbatim/boilerplate leakage (long shared spans almost always
    * contain a rare n-gram) but can miss pairs composed entirely of
    * corpus-common grams — e.g. two short template documents built from
    * stock phrases. Audit consumers should read the report as a
    * candidate-capped lower bound on leakage, and lower `maxDf` only
    * with that trade-off in mind (higher cap = more recall, more
    * candidate volume).
    */
  def crossSourceLeakage(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      srcCol: String,
      n: Int,
      maxDf: Int,
      threshold: Double): DataFrame = {
    val grams = docs.select(col(idCol), col(srcCol).as("__src"),
      array_distinct(wordNgrams(col(textCol), n)).as("grams"))
      .filter(size(col("grams")) > 0)
    val sized = grams.withColumn("n_grams", size(col("grams")))
    val exploded = sized.select(col(idCol), col("__src"),
      explode(col("grams")).as("g"))
    val rare = exploded.groupBy(col("g"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("g"))
    val capped = exploded.join(rare, Seq("g"))
    val a = capped.as("a")
    val b = capped.as("b")
    val cand = a.join(b,
        col("a.g") === col("b.g") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          col("a.__src") =!= col("b.__src"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val inter = size(array_intersect(col("ga"), col("gb")))
    cand
      .join(sized.select(col(idCol).as("id_a"), col("grams").as("ga"),
        col("n_grams").as("na"), col("__src").as("sa")), "id_a")
      .join(sized.select(col(idCol).as("id_b"), col("grams").as("gb"),
        col("n_grams").as("nb"), col("__src").as("sb")), "id_b")
      .select(
        least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"),
        (inter.cast("double") /
          (col("na") + col("nb") - inter).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(max(col("jaccard")), 6).as("max_jaccard"))
  }

  // --------------------------------------------------------------------- //
  // Train/eval decontamination
  // --------------------------------------------------------------------- //

  /** Benchmark decontamination: drop from `train` every document that
    * shares at least one word `n`-gram with any document of `eval` —
    * the standard guard against test-set leakage into a training
    * corpus (the GPT-3/PaLM-style n-gram overlap rule).
    *
    * Shape at 100 TB: the eval side is a benchmark suite — thousands
    * of documents, not billions — so its distinct gram set is
    * broadcast; the train side is ONE explode feeding a broadcast
    * left-semi probe (no shuffle of the corpus at all), then the
    * contaminated-id set (≤ |train| ids) drives a left-anti join. If
    * the eval suite ever outgrows broadcast range, drop the hint and
    * the same plan degrades gracefully to a shuffled semi-join on the
    * gram hash.
    */
  def decontaminate(
      train: DataFrame,
      eval: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3): DataFrame = {
    val evalGrams = eval
      .select(explode(array_distinct(wordNgrams(col(textCol), n))).as("g"))
      .distinct()
    val contaminated = train
      .select(col(idCol), explode(array_distinct(wordNgrams(col(textCol), n))).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select(col(idCol))
      .distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Persisted eval-shingle store for INCREMENTAL decontamination — the
    * third member of the store family (exact fingerprints:
    * [[FingerprintStore]]; near-dup band keys: the q67 store; eval
    * grams: this). Benchmark suites arrive over time; each
    * [[registerEval]] appends the new suite's distinct word n-grams as
    * an immutable `_SUCCESS`-gated segment, and every later training
    * batch is decontaminated against the ACCUMULATED suite set in one
    * probe — no re-reading old eval text, no rebuild per new benchmark.
    * Segment protocol (crash reclaim, commit marker, schema pin) is
    * FingerprintStore's; no compaction variant — the store is
    * gram-distinct per segment and BROADCAST-sized by nature (eval
    * suites are human-curated; the probe dedups residual overlap).
    */
  object EvalGramStore {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.types.{StringType, StructField, StructType}

    val schema: StructType = StructType(Seq(StructField("g", StringType)))

    def segments(s: SparkSession, dir: String): Seq[String] =
      SegmentStore.segments(s, dir).map(_._2)

    /** Every registered suite's grams as one schema-pinned relation. */
    def load(s: SparkSession, dir: String): DataFrame = {
      val segs = segments(s, dir)
      if (segs.isEmpty)
        graft.util.Frames.emptyLocal(s, schema)
      else s.read.schema(schema).parquet(segs: _*)
    }

    /** Append one eval suite's distinct `n`-grams as the next segment. */
    def registerEval(
        eval: DataFrame, dir: String, textCol: String, n: Int = 3): Unit =
      eval
        .select(explode(array_distinct(wordNgrams(col(textCol), n))).as("g"))
        .distinct()
        .write.mode("overwrite").parquet(SegmentStore.segPath(dir,
          SegmentStore.nextId(eval.sparkSession, dir)))
  }

  /** [[decontaminate]] against the accumulated [[EvalGramStore]]: drop
    * every `batch` doc sharing a word `n`-gram with ANY registered eval
    * suite. Same plan shape as the one-shot form — the store broadcasts,
    * the corpus never shuffles — so with suites registered over time the
    * sequential loop equals one global decontamination against their
    * union (the SQL-expressible oracle form; `n` must match
    * registration).
    */
  def decontaminateIncrementalStaged(
      batch: DataFrame,
      storeDir: String,
      textCol: String,
      idCol: String,
      n: Int = 3): DataFrame = {
    val store = EvalGramStore.load(batch.sparkSession, storeDir)
    val contaminated = batch
      .select(col(idCol), explode(array_distinct(wordNgrams(col(textCol), n))).as("g"))
      .join(broadcast(store.select(col("g")).distinct()), Seq("g"), "left_semi")
      .select(col(idCol))
      .distinct()
    batch.join(contaminated, Seq(idCol), "left_anti")
  }

  // --------------------------------------------------------------------- //
  // Embedding near-dup
  // --------------------------------------------------------------------- //

  /** Embedding-cosine near-duplicate pairs above `threshold`.
    *
    * Default path: sign-LSH co-bucketing (Similarity.lshBuckets) — only
    * vectors sharing a bucket are compared, so the pairwise phase is an
    * equi-join (one shuffle, no cross product) and survives any corpus
    * size; recall < 1.0 by design (tunable via `bits`/`tables`).
    * The exhaustive O(n²) nested-loop variant is gated behind an explicit
    * `allPairs = true` — it is correct only for corpora small enough that
    * n²/2 cosines is an acceptable single-stage cost.
    *
    * @param dim embedding dimensionality (needed to draw LSH hyperplanes)
    */
  def embeddingNearDups(
      vecs: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      dim: Int,
      bits: Int = 8,
      tables: Int = 2,
      allPairs: Boolean = false): DataFrame = {
    val v = vecs.select(col(idCol), VectorFunctions.asDouble(col(vecCol)).as("v"))
    // spread: a single-file corpus would otherwise put every cosine on one
    // task (no-op when the scan is already parallel enough)
    val spread = Similarity.spread(v)
    if (allPairs) {
      val a = spread.as("a")
      val b = v.as("b")
      a.join(b, col(s"a.$idCol") < col(s"b.$idCol"))
        .select(
          col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
          VectorFunctions.cosine(col("a.v"), col("b.v")).as("cosine"))
        .filter(col("cosine") >= threshold)
    } else {
      val buckets = Similarity.lshBuckets(spread, "v", idCol, dim, bits, tables)
      val a = buckets.as("a")
      val b = buckets.as("b")
      a.join(b,
          col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .select(
          col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
          VectorFunctions.cosine(col("a.v"), col("b.v")).as("cosine"))
        .filter(col("cosine") >= threshold)
        .dropDuplicates("id_a", "id_b")
    }
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space into cells, then
    * drop every vector that has a smaller-id cell-mate with cosine ≥
    * `threshold`. Returns the SURVIVORS with their `cell` id (all input
    * columns preserved).
    *
    * `planes` are explicit separating hyperplanes; a vector's cell is the
    * bit-fold of its dot-product signs. Axis-aligned unit planes make the
    * cell a pure coordinate-sign code — deterministic and reproducible by
    * any SQL engine (an oracle indexes the array directly); gaussian
    * planes (the [[Similarity.lshBuckets]] draw) slot in unchanged when
    * recall matters more than cross-engine checkability. SemDeDup proper
    * uses k-means cells; sign cells keep the same within-cell pruning
    * semantics with a build-free, data-independent assignment.
    *
    * Scale shape: one map-side cell assignment, one per-cell self
    * equi-join (never a global cross product), one anti-join back — and
    * the domination rule ("ANY smaller-id near neighbor kills you",
    * dropped vectors still dominate) is chain-free, so survivors are
    * decided in ONE pairwise round with no iteration. Cosines are rounded
    * to 6 dp before thresholding so cell membership at the boundary is
    * ulp-stable across engines and re-runs. Within-cell work is quadratic
    * in cell OCCUPANCY, so hold occupancy constant as the corpus grows by
    * adding planes (cells = 2^planes; SemDeDup's k-means k plays the same
    * role) — the fixed 4-plane gate instantiation is sized for the test
    * corpus, not a scaling policy.
    */
  /** ExactSubstr-style duplicated-SPAN profile (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): find every token span of length `k` that occurs
    * MORE THAN ONCE anywhere in the corpus (cross-doc or self-repeat),
    * merge each document's duplicated positions into maximal islands, and
    * report per-doc span/coverage counts — the span-level complement of
    * doc-level exact/near dedup (a doc can be 40% boilerplate yet unique
    * as a whole; doc-level dedup keeps all of it, span-level flags the
    * 40%).
    *
    * Dataflow (three shuffles, all on compact keys):
    *  1. explode each doc into (pos, xxhash64(k-gram)) occurrences —
    *     the gram arrays are built once from a bound token attribute
    *     (the collapsed Catalyst form re-runs the tokenizer per
    *     element); the frame is persisted (OperatorCaches) so both
    *     consumers below read it once;
    *  2. per-gram occurrence counts as a TWO-PHASE aggregate:
    *     `groupBy(g).count()` (map-side partials collapse a hot gram to
    *     one row per task before the exchange) joined back on `g`. NOT
    *     `count() OVER (PARTITION BY gram)` — a window lands a viral
    *     gram's (a license header in millions of docs) every occurrence
    *     in ONE task's sort buffer; the join back is also keyed on `g`
    *     but AQE's skew-join splitting can fan a hot key's probe rows
    *     across tasks, which no window buffer can;
    *  3. per-doc gaps-and-islands over the surviving positions (every
    *     interval is exactly k tokens, so "new island when
    *     pos > prev_max_end + 1") — one doc-keyed shuffle, then the
    *     island fold.
    *
    * Output: (idCol, n_tokens, dup_spans, dup_tokens, dup_ratio) for
    * EVERY input doc (zero-coverage docs included).
    */
  /** Shared front end of the ExactSubstr pair ([[dupSpanProfile]] /
    * [[stripDupSpans]]): `(base, dup)` where `base` carries the bound
    * token array per doc and `dup` is the (idCol, pos) stream of k-gram
    * start positions whose gram occurs ≥ 2 times anywhere in the corpus.
    */
  private def dupSpanPositions(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int): (DataFrame, DataFrame) =
    spanPositionsFrom(tokenizedBase(docs, textCol, idCol), idCol, k)

  /** The tokenize-only front of the span pipeline, split out so the
    * incremental path can persist it ONCE per batch and share it between
    * the occurrence build and the strip-path token rebuild (which
    * otherwise re-tokenizes the batch at gate time).
    */
  private def tokenizedBase(
      docs: DataFrame,
      textCol: String,
      idCol: String): DataFrame =
    // spread: on a single-file test corpus the tokenizer + gram build +
    // hash would otherwise run on ONE task (map-only cost — no-op on a
    // well-partitioned real corpus; q48 discipline)
    Similarity.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), tokens(col(textCol)).as("toks"))

  private def spanPositionsFrom(
      base0: DataFrame,
      idCol: String,
      k: Int): (DataFrame, DataFrame) = {
    val base = base0
      // gram build stays on ngramsOfTokens' zip_with fold: the measured
      // alternative (slice-under-transform over a position sequence) is
      // 3.3x slower at sf0.1 — per-element slice materializes a fresh
      // k-array per position, and nothing stops Catalyst from inlining
      // work into the lambda. The fold builds each gram incrementally
      // with zero per-element allocation beyond the string itself.
      .select(col(idCol), col("toks"),
        ngramsOfTokens(col("toks"), k).as("grams"))
    // posexplode_OUTER + per-row n_tokens: a doc with fewer than k tokens
    // still emits one (pos=null, g=null) sentinel row, so the occurrence
    // frame alone carries every doc's token count — the profile needs no
    // second tokenize pass over the corpus. Gram identity is xxhash64 (an
    // 8-byte long), not md5 (a 32-char string): every downstream shuffle
    // — the count window here, the store probe, the segment fold — keys
    // on it, and the narrow key measured ~30% faster end-to-end at
    // sf0.1. Only hash EQUALITY is ever used (the hash never reaches an
    // output surface), so a 64-bit space is enough: P(any collision) at
    // a billion distinct grams is ~3e-2 per Birthday, and a collision
    // only ever over-flags one span as duplicated. Null grams keep a
    // null g explicitly — xxhash64(NULL) would return the seed, lumping
    // every short doc into one fake "gram".
    // persisted: BOTH sides of the count join below read it (the
    // aggregate side and the probe side) — without the cache the
    // tokenize + gram-build + hash pipeline would run twice per
    // evaluation. CACHE CONTRACT: registered with OperatorCaches —
    // callers release after the terminal action on the returned frames.
    val occ0 = graft.util.OperatorCaches.persisted(base
      .select(col(idCol), size(col("toks")).cast("long").as("n_tokens"),
        posexplode_outer(col("grams")).as(Seq("p0", "gram")))
      .select(col(idCol), col("n_tokens"), (col("p0") + 1).as("pos"),
        when(col("gram").isNotNull, xxhash64(col("gram"))).as("g")))
    // occurrence count as a TWO-PHASE aggregate (groupBy + join back),
    // NOT `count over Window.partitionBy(g)`: a window by gram lands a
    // hot gram's EVERY occurrence on one task, and the grams this
    // operator exists to find — site boilerplate duplicated across
    // 10^6..10^8 pages of a 100 TB crawl — are precisely the keys that
    // explode. The groupBy's partial aggregation collapses each task's
    // occurrences to one (g, n) row before the exchange, so the joined
    // frame is distinct-gram-sized regardless of skew; the join back is
    // hash-partitioned on g with per-row fan-out handled by the
    // shuffle, not a single window buffer. Sentinel rows (g null) never
    // match the inner-side keys and keep cnt = 0 via the left join.
    val gramCounts = occ0.filter(col("g").isNotNull)
      .groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    val occ = occ0.join(gramCounts, Seq("g"), "left")
      .select(col(idCol), col("n_tokens"), col("pos"), col("g"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    (base, occ)
  }

  /** The duplicated-position stream of an occurrence frame: real gram
    * rows (sentinels out) whose gram occurs at least twice.
    */
  private def dupOf(occ: DataFrame): DataFrame =
    occ.filter(col("g").isNotNull && col("cnt") >= 2)

  /** Per-doc (idCol, n_tokens) recovered from an occurrence frame — the
    * sentinel rows make it total over the input docs.
    */
  private def nTokensFromOcc(occ: DataFrame, idCol: String): DataFrame =
    occ.groupBy(col(idCol)).agg(first(col("n_tokens")).as("n_tokens"))

  def dupSpanProfile(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int): DataFrame = {
    val (_, occ) = dupSpanPositions(docs, textCol, idCol, k)
    spanProfileOf(nTokensFromOcc(occ, idCol), dupOf(occ), idCol, k)
  }

  /** Island fold + per-doc profile over an already-decided duplicated
    * (idCol, pos) stream, joined against the skinny `(idCol, n_tokens)`
    * frame — shared by the one-shot and incremental paths.
    */
  private def spanProfileOf(
      nTokens: DataFrame,
      dup: DataFrame,
      idCol: String,
      k: Int): DataFrame = {
    // island merge as ONE doc-keyed lag window + aggregate sharing the
    // window's exchange: positions ascend within a doc and every
    // interval is exactly k tokens, so with prev = lag(pos) a row opens
    // a new island iff prev is null or pos − prev > k, and its covered
    // contribution is k on an open and pos − prev (≤ k) on an extend —
    // i.e. least(pos − prev, k). All codegen-able built-ins; the
    // previous shape collected each doc's positions into a sorted array
    // and folded it with an interpreted `aggregate` lambda (guide §4 —
    // per-element closures in the hot path), which an r19 A/B measured
    // slower at equal shuffle count (the groupBy here reuses the
    // window's hash partitioning — one exchange either way; the r18
    // "window-chain costs two extra sorts" note applied to the
    // running-max → island-id → re-aggregate chain, not to one lag).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__p"))
    val opens = col("__prev").isNull || col("__p") - col("__prev") > k
    val spans = dup
      .select(col(idCol), col("pos").cast("long").as("__p"))
      .withColumn("__prev", lag(col("__p"), 1).over(w))
      .groupBy(col(idCol))
      .agg(
        sum(when(opens, 1L).otherwise(0L)).as("dup_spans"),
        sum(when(opens, k.toLong).otherwise(col("__p") - col("__prev")))
          .as("dup_tokens"))
    nTokens
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"), 6)
          .as("dup_ratio"))
  }

  /** ExactSubstr REMOVAL — the rewrite half of the pair: strip every
    * token covered by a duplicated k-span and re-join the survivors into
    * the cleaned text (Lee et al. 2021's dedup actually applied, not just
    * profiled). Note this removes BOTH occurrences of a duplicated span
    * (the paper's simplest policy — deterministic, order-free, and the
    * one a distributed rewrite wants: no "keeper" coordination between
    * executors).
    *
    * Dataflow beyond [[dupSpanPositions]]' two shuffles: covered token
    * indices explode from the dup positions (≤ k rows per dup gram),
    * survivors are a (doc, token-index) anti-join, and the rebuild is one
    * doc-keyed aggregation whose `sort_array(collect_list(struct(pos,
    * tok)))` is bounded by tokens per DOC — never corpus-sized.
    *
    * Output: (idCol, n_tokens, kept_tokens, clean_text) for every input
    * doc; a fully-duplicated doc keeps zero tokens and an empty string.
    */
  def stripDupSpans(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int): DataFrame = {
    val (base, occ) = dupSpanPositions(docs, textCol, idCol, k)
    stripByDup(base, dupOf(occ), idCol, k)
  }

  /** The rewrite lower half shared by the one-shot and incremental strip
    * paths: fold each doc's sorted duplicated positions into maximal
    * covered ISLANDS (the spanProfileOf recurrence, keeping the
    * intervals instead of counting them), then rebuild the survivors
    * with array functions against the doc's own token array.
    *
    * Shuffle shape: ONE doc-keyed aggregation over the duplicated
    * positions plus one id-equi-join back to the token-bearing base —
    * versus the previous explode-covered-indices → (id, tpos)
    * anti-join → regroup pipeline, which shuffled a corpus-TOKEN-sized
    * frame three times. The per-token coverage test is
    * `exists(islands, …)`, bounded by the doc's island count (a fully
    * duplicated doc is ONE island), never by its token count.
    */
  private def stripByDup(
      base: DataFrame,
      dup: DataFrame,
      idCol: String,
      k: Int): DataFrame = {
    val none = lit(Long.MinValue / 2)
    val emptyIslands = array().cast("array<struct<s:bigint,e:bigint>>")
    // fold state: (closed islands, open-island start, open-island end);
    // ps is sorted, every interval is exactly k tokens, so "p > e + 1
    // opens a new island; otherwise extend to p + k - 1"
    val islandsOf = aggregate(
      col("ps"),
      struct(emptyIslands.as("done"), none.as("cs"), none.as("ce")),
      (acc, p) => {
        val done = acc.getField("done")
        val cs = acc.getField("cs")
        val ce = acc.getField("ce")
        val open = struct(cs.as("s"), ce.as("e"))
        when(p > ce + 1,
          struct(
            when(cs === none, done).otherwise(concat(done, array(open)))
              .as("done"),
            p.as("cs"), (p + lit(k - 1)).as("ce")))
          .otherwise(struct(done.as("done"), cs.as("cs"),
            (p + lit(k - 1)).as("ce")))
      },
      acc =>
        when(acc.getField("cs") === none, acc.getField("done"))
          .otherwise(concat(acc.getField("done"),
            array(struct(acc.getField("cs").as("s"),
              acc.getField("ce").as("e"))))))
    val docIslands = dup
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("ps"))
      .select(col(idCol), islandsOf.as("isl"))
    val isl = coalesce(col("isl"), emptyIslands)
    // SURVIVOR REBUILD BY GAP SLICES, O(islands) per row instead of
    // O(tokens × islands): the islands are sorted, disjoint and
    // separated by ≥ 1 token (a new island only opens past ce + 1), so
    // the kept tokens are exactly the inter-island gaps of [1, n] —
    // |islands| + 1 candidate gaps, each one `slice` of the token
    // array. The previous shape indexed EVERY token into an (i, t)
    // struct and ran an `exists` over the islands per token — at k = 8
    // a mostly-duplicated doc paid tokens × islands interpreted lambda
    // calls to keep almost nothing (guide §4: the hot path belongs in
    // bulk array ops, not per-element closures).
    val n = size(col("toks")).cast("long")
    val gapStarts = concat(array(lit(1L)),
      transform(isl, i => i.getField("e") + 1L))
    val gapEnds = concat(transform(isl, i => i.getField("s") - 1L), array(n))
    val gaps = filter(
      zip_with(gapStarts, gapEnds, (s, e) => struct(s.as("s"), e.as("e"))),
      g => g.getField("s") <= g.getField("e"))
    val kept = flatten(transform(gaps, g =>
      slice(col("toks"), g.getField("s").cast("int"),
        (g.getField("e") - g.getField("s") + 1L).cast("int"))))
    base.select(col(idCol), col("toks"))
      .join(docIslands, Seq(idCol), "left")
      .select(col(idCol),
        n.as("n_tokens"),
        size(kept).cast("long").as("kept_tokens"),
        concat_ws(" ", kept).as("clean_text"))
  }

  /** INCREMENTAL ExactSubstr through the persisted gram store — the
    * at-scale ingest loop the one-shot [[dupSpanProfile]] cannot run: a
    * new batch's spans are checked against EVERY prior batch's grams
    * (via a [[FingerprintStore]] whose `fp` column holds k-gram hashes)
    * plus the batch's own second occurrences, then the batch's distinct
    * store-NOVEL grams land as the next immutable `_SUCCESS`-gated
    * segment (already-stored grams are anti-joined away — the store is a
    * set, and re-appending members would only grow later probes). Sequential
    * semantics, deliberately: a span first seen in batch 1 and repeated
    * in batch 3 is flagged in batch 3 ONLY (batch 1 already shipped —
    * re-profiling history would mean re-reading the corpus, which is
    * exactly what the store exists to avoid). Store scale: one row per
    * distinct gram (a 64-bit xxhash64 in string form, the store's
    * schema-pinned key type) — ~n_tokens per doc, compactable into the
    * bucketed generation so the probe join reads exchange-free
    * ([[FingerprintStore.compact]]). Single-writer contract as every
    * store in this family.
    *
    * Output: the batch's (idCol, n_tokens, dup_spans, dup_tokens,
    * dup_ratio) — same schema as [[dupSpanProfile]]; the first batch
    * against an empty store degenerates to exactly the one-shot profile.
    */
  def dupSpansIncrementalStaged(
      batch: DataFrame,
      storeDir: String,
      textCol: String,
      idCol: String,
      k: Int): DataFrame = {
    val (_, occ, dup) = incrementalSpanCore(batch, storeDir, textCol, idCol, k)
    spanProfileOf(nTokensFromOcc(occ, idCol), dup, idCol, k)
  }

  /** INCREMENTAL ExactSubstr REMOVAL — [[stripDupSpans]] run through the
    * same persisted gram store as [[dupSpansIncrementalStaged]]: a span
    * is stripped when its gram occurred in ANY prior batch or twice in
    * its own; the batch's novel grams then land as the next segment.
    * The first batch against an empty store is EXACTLY the one-shot
    * [[stripDupSpans]]; an exact replay strips every token (all grams
    * are in the store) — kept_tokens 0, clean_text empty — which is the
    * remove-BOTH-occurrences policy extended across batches. Same
    * store/segment protocol, same sequential semantics, same output
    * schema as the one-shot rewrite.
    */
  def stripDupSpansIncrementalStaged(
      batch: DataFrame,
      storeDir: String,
      textCol: String,
      idCol: String,
      k: Int): DataFrame = {
    val (base, occ, dup) = incrementalSpanCore(batch, storeDir, textCol, idCol, k)
    stripByDup(base, dup, idCol, k)
  }

  /** FUSED BACKFILL of the incremental ExactSubstr loop — N queued
    * batches ingested in ONE corpus pass with semantics IDENTICAL to
    * folding [[dupSpansIncrementalStaged]] over them in ascending
    * `batchCol` order (the catch-up shape: a stalled pipeline restarts
    * with a backlog, and paying the per-batch
    * tokenize+window+checkpoint pipeline once per queued batch triples
    * the jobs for zero information).
    *
    * The sequential dependency ("batch k probes history < k") is
    * resolved WITHIN the single pass: per gram, `cnt` counts
    * occurrences inside the row's own batch (peer frame of the
    * g-partition window ordered by batch), `minb` is the first batch
    * carrying the gram (running min over the same sort — one exchange,
    * one sort, both stats), and a row is duplicated iff
    * `cnt ≥ 2 ∨ minb < b ∨ gram ∈ pre-existing store` — exactly the
    * sequential rule, since segment b' (b' < b) holds a gram iff it was
    * store-novel with `minb = b'`. Segments still commit one-per-batch
    * (ascending, the sequential loop's layout), each a skinny aggregate
    * over the one persisted occurrence frame.
    *
    * Batch ids within one backfill call must not repeat an (id, batch)
    * pair; the same doc id MAY appear in several batches (each batch
    * emits its own profile row, as the sequential loop would).
    *
    * `maxBacklogBatches` guards the driver-side distinct-batch collect
    * (and the one-segment-write-per-batch job count): a backlog past
    * the bound fails fast with a pointer to the sequential
    * [[dupSpansIncrementalStaged]] loop, which has no driver-side
    * backlog bound — the [[Bpe.trainMergesLocal]] `maxVocabRows`
    * discipline.
    */
  def dupSpansBackfillStaged(
      batches: DataFrame,
      batchCol: String,
      storeDir: String,
      textCol: String,
      idCol: String,
      k: Int,
      maxBacklogBatches: Int = 10000): DataFrame = {
    val (_, occ, dup) = backfillSpanCore(
      batches, batchCol, storeDir, textCol, idCol, k, maxBacklogBatches)
    def bid(df: DataFrame): DataFrame =
      df.withColumn("__bid", struct(col("__b"), col(idCol)))
    spanProfileOf(nTokensFromOcc(bid(occ), "__bid"), bid(dup), "__bid", k)
      .select(col("__bid").getField(idCol).as(idCol), col("n_tokens"),
        col("dup_spans"), col("dup_tokens"), col("dup_ratio"))
  }

  /** [[stripDupSpansIncrementalStaged]]'s fused-backfill twin — same
    * one-pass machinery as [[dupSpansBackfillStaged]], rewrite output.
    */
  def stripDupSpansBackfillStaged(
      batches: DataFrame,
      batchCol: String,
      storeDir: String,
      textCol: String,
      idCol: String,
      k: Int,
      maxBacklogBatches: Int = 10000): DataFrame = {
    val (base, _, dup) = backfillSpanCore(
      batches, batchCol, storeDir, textCol, idCol, k, maxBacklogBatches)
    def bid(df: DataFrame): DataFrame =
      df.withColumn("__bid", struct(col("__b"), col(idCol)))
    stripByDup(bid(base), bid(dup), "__bid", k)
      .select(col("__bid").getField(idCol).as(idCol), col("n_tokens"),
        col("kept_tokens"), col("clean_text"))
  }

  /** One-pass core of the fused backfill: occurrence frame over the
    * UNION of batches with per-batch `cnt` and first-batch `__minb`
    * from TWO-PHASE aggregates (groupBy + join back — the gram-keyed
    * windows this used to ride land a hot boilerplate gram's every
    * occurrence in one task's sort buffer; the aggregate collapses per
    * task before the exchange and the join back is AQE-skew-splittable),
    * store probe against the pre-backfill segment list, one committed
    * segment per batch.
    * CACHE CONTRACT: the tokenized base and occurrence frames are
    * registered with [[graft.util.OperatorCaches]].
    */
  private def backfillSpanCore(
      batches: DataFrame,
      batchCol: String,
      storeDir: String,
      textCol: String,
      idCol: String,
      k: Int,
      maxBacklogBatches: Int): (DataFrame, DataFrame, DataFrame) = {
    require(maxBacklogBatches >= 1,
      "backfill: maxBacklogBatches must be >= 1")
    val s = batches.sparkSession
    val nextIdx = SegmentStore.nextId(s, storeDir)
    val store = FingerprintStore.load(s, storeDir)
    val base0 = graft.util.OperatorCaches.persisted(
      Similarity.spread(batches.select(
          col(batchCol).cast("long").as("__b"), col(idCol), col(textCol)))
        .select(col("__b"), col(idCol), tokens(col(textCol)).as("toks")))
    val base = base0.select(col("__b"), col(idCol), col("toks"),
      ngramsOfTokens(col("toks"), k).as("grams"))
    // per-batch count and first-batch min as two-phase aggregates over
    // the persisted occurrence frame: one (g, __b)-keyed groupBy whose
    // map-side partials collapse a hot gram to one row per (task,
    // batch) before any exchange, a distinct-gram-sized min over THAT,
    // and a join back. Sentinel rows (g null) never match and keep
    // cnt = 0 / __minb null via the left joins (the downstream filters
    // all require g non-null anyway).
    // occ0 is NOT persisted: both consumers below rebuild it from the
    // persisted tokenized base0 (gram-build + hash + explode, map-only)
    // — cheaper than materializing the occurrence-sized frame, and the
    // JOINED occ is the frame every downstream consumer reads anyway
    val occ0 = base
      .select(col("__b"), col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        posexplode_outer(col("grams")).as(Seq("p0", "gram")))
      .select(col("__b"), col(idCol), col("n_tokens"),
        (col("p0") + 1).as("pos"),
        when(col("gram").isNotNull, xxhash64(col("gram"))).as("g"))
    val perBatch = occ0.filter(col("g").isNotNull)
      .groupBy(col("g"), col("__b")).agg(count(lit(1)).as("cnt"))
    // fold the first-batch min into the (g, __b)-keyed frame FIRST
    // (both frames are distinct-gram-sized, the min is a second-phase
    // aggregate over already-collapsed rows) so the occurrence stream
    // below shuffles ONCE, on (g, __b) — not once per joined frame
    val firstB = perBatch.groupBy(col("g"))
      .agg(min(col("__b")).as("__minb"))
    val gramStats = perBatch.join(firstB, Seq("g"))
    val occ = graft.util.OperatorCaches.persisted(occ0
      .join(gramStats, Seq("g", "__b"), "left")
      .select(col("__b"), col(idCol), col("n_tokens"), col("pos"),
        col("g"), coalesce(col("cnt"), lit(0L)).as("cnt"),
        col("__minb")))
    val seen = store.select(col("fp")).distinct()
      .withColumn("__seen", lit(true))
    val dup = occ.withColumn("fp", col("g").cast("string"))
      .join(seen, Seq("fp"), "left")
      .filter(col("g").isNotNull &&
        (col("cnt") >= 2 || col("__minb") < col("__b") || col("__seen")))
    // one committed segment per batch, ascending — the layout the
    // sequential loop would have produced; the distinct-batch collect
    // (and the per-batch segment-write job count) is bounded by
    // maxBacklogBatches, failing FAST past the bound instead of
    // surprising the driver with an unbounded backlog
    val bs = occ.select(col("__b")).distinct()
      .limit(maxBacklogBatches + 1)
      .collect().map(_.getLong(0)).sorted
    require(bs.length <= maxBacklogBatches,
      s"backfill: backlog exceeds maxBacklogBatches=$maxBacklogBatches " +
        "distinct batch ids — raise the bound, or fall back to the " +
        "sequential incremental loop (dupSpansIncrementalStaged / " +
        "stripDupSpansIncrementalStaged per batch), which has no " +
        "driver-side backlog bound")
    // the per-batch segment writes are INDEPENDENT (distinct output
    // dirs, every one reading the occ cache — warm: the bs collect
    // above materialized it — against the PINNED pre-backfill `seen`
    // list), so they run concurrently on driver side-threads
    // (guide §2.6), every one joined before this returns or throws
    SegmentStore.withWrites(bs.toSeq.zipWithIndex.map { case (b, i) => () =>
      occ.filter(col("g").isNotNull &&
          col("__minb") === b && col("__b") === b)
        .groupBy(col("g"))
        .agg(min(col(idCol).cast("long")).as("doc_id"))
        .select(col("g").cast("string").as("fp"), col("doc_id"))
        .join(seen.select(col("fp")), Seq("fp"), "left_anti")
        .write.mode("overwrite")
        .parquet(SegmentStore.segPath(storeDir, nextIdx + i))
    })(())
    (base, occ, dup)
  }

  /** Shared store-probe front half of the incremental ExactSubstr pair:
    * checkpoints the batch's occurrence frame, decides its duplicated
    * positions against the store + the batch itself, and commits the
    * batch's novel grams as the next segment. Returns (base, occ, dup);
    * `base` stays lazy (only the strip path re-reads the batch text for
    * the token rebuild), `dup`'s store scan is pinned to the pre-write
    * segment list so callers may evaluate it after later batches write.
    */
  private def incrementalSpanCore(
      batch: DataFrame,
      storeDir: String,
      textCol: String,
      idCol: String,
      k: Int): (DataFrame, DataFrame, DataFrame) = {
    val s = batch.sparkSession
    val nextIdx = SegmentStore.nextId(s, storeDir)
    val store = FingerprintStore.load(s, storeDir)
    // persist (not eager-checkpoint) both the tokenized base and the
    // occurrence frame: the segment write below is then the batch's ONE
    // eager action, and materializing it populates both caches as a side
    // effect — the store probe → profile, the per-doc token counts, and
    // the strip path's token rebuild all read the caches instead of
    // re-running the tokenize + gram-build + hash + gram-window pipeline
    // per consumer (the q67/q72 band-key lesson). At gate scale this
    // pipeline's cost is JOB COUNT, not data volume (~236k occurrence
    // rows at sf0.1), so halving the eager actions per batch is the
    // whole optimization; recompute-on-eviction is deterministic, and
    // both frames are batch-bounded (~one row per token) — at 100 TB
    // stage them under storeDir instead of executor storage.
    // CACHE CONTRACT: both frames registered with OperatorCaches —
    // callers release after the terminal action on the returned frames.
    val base0 = graft.util.OperatorCaches.persisted(
      tokenizedBase(batch, textCol, idCol))
    val (base, occ0) = spanPositionsFrom(base0, idCol, k)
    val occ = graft.util.OperatorCaches.persisted(occ0)
    // store probe on the STRING form of the gram hash: the store's fp
    // column is the bucketed/sorted key after a compaction, so keeping
    // the join key = fp lets the history side read exchange-free; only
    // the (batch-sized) occurrence side converts and shuffles.
    // Probe shape (r17 verdict #3, job-count fold): self-duplicated
    // positions (cnt >= 2) need no store at all, and the rest probe via
    // LEFT SEMI — which tolerates duplicate build-side keys without a
    // defensive distinct(), so the store side is a bare segment scan
    // (two fewer AQE stage materializations per action that evaluates
    // this frame than the old distinct + left-join + flag-filter).
    val seen = store.select(col("fp"))
    val dup = occ.filter(col("g").isNotNull && col("cnt") >= 2)
      .unionByName(
        occ.filter(col("g").isNotNull && col("cnt") < 2)
          .withColumn("fp", col("g").cast("string"))
          .join(seen, Seq("fp"), "left_semi")
          .drop("fp"))
    // append the batch's distinct NEW grams (min owner id = deterministic
    // doc_id for the pinned store schema) as the next segment; grams the
    // store already holds are anti-joined away — re-appending them would
    // grow every later probe's build side for zero information (a
    // replayed batch appends an empty segment). Overwrite reclaims a
    // crashed attempt's partial dir at the same index.
    graft.util.Described(s, "span:seg")(
      occ.filter(col("g").isNotNull)
        .groupBy(col("g"))
        .agg(min(col(idCol).cast("long")).as("doc_id"))
        .select(col("g").cast("string").as("fp"), col("doc_id"))
        .join(seen, Seq("fp"), "left_anti")
        .write.mode("overwrite").parquet(SegmentStore.segPath(storeDir, nextIdx)))
    (base, occ, dup)
  }

  def semanticDedup(
      vecs: DataFrame,
      vecCol: String,
      idCol: String,
      planes: Seq[Seq[Double]],
      threshold: Double): DataFrame = {
    val v = Similarity.spread(
      vecs.withColumn("v", VectorFunctions.asDouble(col(vecCol))))
    // bit-fold of dot signs over literal-data planes: one small expression
    // tree regardless of planes x dim (see Similarity.lshBuckets)
    val cellExpr = aggregate(
      typedLit(planes), lit(0L),
      (acc, plane) => acc * 2 +
        when(VectorFunctions.dot(col("v"), plane) >= 0, 1L).otherwise(0L))
    // non-finite vectors (NaN/Inf components) never form a near-dup
    // edge: their cosine is NaN, and Spark orders NaN above every
    // double, so an unguarded `>= threshold` would let one poisoned
    // vector dominate (drop) every larger-id cell-mate. The flag is
    // computed once per row, not per pair.
    val cells = v.withColumn("cell", cellExpr)
      .withColumn("__finite", VectorFunctions.isFiniteVec(col("v")))
    val a = cells.as("a")
    val b = cells.as("b")
    val dominated = a.join(b,
        col("a.cell") === col("b.cell") &&
          col(s"b.$idCol") < col(s"a.$idCol") &&
          col("a.__finite") && col("b.__finite") &&
          round(VectorFunctions.cosine(col("a.v"), col("b.v")), 6) >= threshold)
      .select(col(s"a.$idCol").as(idCol))
      .distinct()
    cells.drop("v", "__finite").join(dominated, Seq(idCol), "left_anti")
  }

  /** Semantic DECONTAMINATION — the embedding-space sibling of the n-gram
    * [[decontaminate]]: flag every corpus vector whose cosine similarity
    * to ANY eval-suite vector reaches `tau`. Eval suites are bounded
    * (they are benchmarks, not corpora), so the whole eval set rides in
    * the scan expression itself and the scan is MAP-ONLY: per corpus
    * vector the fused native kernel
    * [[org.apache.spark.sql.graft.CosineMaxHits]] computes (max cosine,
    * hit count) in one compiled loop — no join, no shuffle, no per-pair
    * row explosion, and none of the per-eval-vector interpreted-lambda
    * cost of the HOF fold it replaced (whose O(corpus × eval) steps
    * made the scan superlinear in scale factor: 245 s at sf1).
    * Per-element cosines are 6-dp-rounded BEFORE the max/threshold (the
    * cross-engine ulp discipline every cosine gate in this family
    * uses). Non-finite vectors on either side are barred the same way
    * [[semanticDedup]] bars them: a NaN cosine orders above every
    * double in Spark, so an unguarded fold would let one poisoned eval
    * vector contaminate the entire corpus.
    *
    * Output: `(idCol, max_cos, n_hits, contaminated)` — one row per
    * corpus vector; `max_cos` NULL when the eval set is empty (nothing
    * to be similar to), `contaminated = n_hits > 0`.
    */
  def semanticDecontaminate(
      corpus: DataFrame,
      eval: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge, CosineMaxHits}
    val none = lit(-2.0) // below any true cosine; NULL-ed out at the end
    // The eval suite is bounded by contract (benchmarks, not corpora), so
    // it is collected once and rides in the scan expression itself — the
    // same boundedness the broadcast-row form relied on, minus the
    // per-pair HOF lambda: the fused CosineMaxHits kernel hoists the
    // corpus vector and its norm once per row and runs a compiled loop
    // over the eval matrix (measured 245 s → seconds at sf1; the HOF
    // fold's cost is O(corpus × eval) interpreted steps and compounds
    // quadratically with scale). Norms are precomputed HERE with the
    // kernel's own accumulation so driver and executor doubles agree.
    val evVecs: Array[Array[Double]] = eval
      .filter(VectorFunctions.isFiniteVec(
        VectorFunctions.asDouble(col(vecCol))))
      .select(VectorFunctions.asDouble(col(vecCol)).as("e"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    val evNorms = evVecs.map(CosineMaxHits.norm)
    val scanned = Similarity.spread(
      corpus.withColumn("v", VectorFunctions.asDouble(col(vecCol))))
    val folded = ColumnBridge.column(
      CosineMaxHits(ColumnBridge.expression(col("v")), evVecs, evNorms, tau))
    scanned
      .select(col(idCol), folded.as("f"))
      .select(col(idCol),
        when(col("f.mx") > none, col("f.mx")).as("max_cos"),
        col("f.hits").as("n_hits"),
        (col("f.hits") > 0).as("contaminated"))
  }
}
