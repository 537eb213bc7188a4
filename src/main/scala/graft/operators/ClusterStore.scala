package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.util.SegmentStore

/** Persisted duplicate-CLUSTER map with INCREMENTAL connected components
  * — the missing member of the store family (FingerprintStore holds
  * exact fingerprints, the band store holds LSH keys, EvalGramStore
  * holds benchmark shingles; this holds the duplicate-graph COMPONENT
  * LABELS). At 100 TB the cluster map is built once and updated as
  * batches arrive; rebuilding MinHash→LSH→CC from scratch per consumer
  * (the hermetic-gate shape of q52/q97/q117/q121/q128) is a gate
  * artifact, not a production plan.
  *
  * ## State
  *
  * Two substores under `dir`:
  *  - `dir/keys` — a [[Dedup.FingerprintStore]] holding each document's
  *    MinHash LSH band keys (`fp` = band key, `doc_id` = the smallest id
  *    that FIRST registered the key). Immutable `_SUCCESS`-gated
  *    segments, bucketed compaction, the whole existing discipline.
  *  - `dir/map` — the cluster map: (node, component) rows in
  *    `_SUCCESS`-gated segments where LATER SEGMENTS SHADOW EARLIER
  *    ONES per node (an ingest that merges two components rewrites only
  *    the affected members as a new segment — latest-wins at load).
  *    [[compact]] folds the resolved map into a generation table
  *    bucketed by `node` (external table + marker file, exactly the
  *    FingerprintStore protocol) so the per-ingest contraction join
  *    reads the map side exchange-free.
  *
  * ## Incremental algorithm (star contraction over the contracted graph)
  *
  * Per [[ingest]] batch:
  *  1. band keys of the batch (one tokenize+minhash pass);
  *  2. EDGES: per key, the STAR rooted at the key's owner — cross-batch
  *     (batch doc → store owner of the key) and within-batch (batch doc
  *     → smallest batch id holding the key). A star is
  *     connectivity-equivalent to the per-key CLIQUE that one-shot LSH
  *     candidate pairs ([[Dedup.lshCandidates]]) emit, so the
  *     accumulated components equal a one-shot run over the union of
  *     all batches — the oracle form (recursive-CTE closure). Stars
  *     root at the FIRST owner rather than the global minimum, which
  *     changes no component (connectivity is label-free); labels are
  *     recovered as exact minima by the CC step.
  *  3. CONTRACT the edges through the current map: each endpoint that
  *     already has a component is replaced by its label. The CC that
  *     follows runs over BATCH-SIZED input touching only affected
  *     components — never the accumulated graph (Kiveris et al.,
  *     SoCC'14 large-star/small-star inside; O(log² n) rounds).
  *  4. RELABEL: components of the contracted graph are global minima
  *     (old labels are minima of their members; the new label is the
  *     min over merged old labels and new ids). The committed segment
  *     holds (a) assignments for new nodes and (b) rewrites for every
  *     member of an old component whose label changed — nothing else is
  *     touched.
  *  5. register the batch's store-novel keys as the next `dir/keys`
  *     segment.
  *
  * Batch-id order does NOT matter for the resulting components (unlike
  * the dedup stores' smallest-id-survives drop policy): connectivity is
  * symmetric, and labels are always the component minimum.
  *
  * ## Crash story
  *
  * Map segments commit via parquet `_SUCCESS`; a half-written segment is
  * never read and is overwritten by the next ingest claiming the index.
  * [[compact]] writes the folded generation, atomically renames the
  * marker, and only then deletes folded segments — the marker's
  * `foldedBelow` bound makes a leftover folded segment INVISIBLE to
  * [[load]] (required: latest-wins over a partially-deleted fold could
  * otherwise resurrect a stale label). Single concurrent writer, like
  * every store in the family.
  */
object ClusterStore {

  val mapSchema: StructType = StructType(Seq(
    StructField("node", LongType), StructField("component", LongType)))

  private def mapDir(dir: String) = s"$dir/map"
  private def keysDir(dir: String) = s"$dir/keys"

  /** Committed map-segment paths, oldest first (`_SUCCESS`-gated). */
  def segments(s: SparkSession, dir: String): Seq[String] =
    SegmentStore.segments(s, mapDir(dir)).map(_._2)

  /** Newest committed map generation (marker `table sub buckets
    * foldedBelow`).
    */
  private def currentGen(s: SparkSession, dir: String): Option[SegmentStore.Gen] =
    SegmentStore.currentGen(s, mapDir(dir))

  private def emptyMap(s: SparkSession): DataFrame = graft.util.Frames.emptyLocal(s, mapSchema)

  /** The current cluster map: (node, component), one row per node that
    * has ever appeared in a duplicate edge. Latest segment wins per
    * node; the folded generation covers everything below its
    * `foldedBelow` bound (segments under the bound are IGNORED even if
    * a crashed compaction left them behind — see the crash story).
    * Nodes absent from the map are singletons; callers label them with
    * `coalesce(component, node)` exactly as with
    * [[Cluster.connectedComponents]].
    */
  def load(s: SparkSession, dir: String): DataFrame =
    loadBefore(s, dir, Long.MaxValue)

  /** As [[load]] but resolving only map segments with id strictly below
    * `belowSegId` — the fold scope [[compact]] resolves. Fails loudly if
    * a compaction has folded segments at or beyond the bound into the
    * generation.
    */
  def loadBefore(s: SparkSession, dir: String, belowSegId: Long): DataFrame = {
    val (gen, segs) = SegmentStore.history(s, mapDir(dir), belowSegId)
    val genRows = gen.map(g => s.table(SegmentStore.table(s, mapDir(dir), g, mapSchema, "node"))
      .select(col("node"), col("component"), lit(-1L).as("__seg")))
    val segRows = segs.map { case (id, p) =>
      s.read.schema(mapSchema).parquet(p)
        .select(col("node"), col("component"), lit(id).as("__seg")) }
    (genRows.toSeq ++ segRows).reduceOption(_ unionByName _) match {
      case None => emptyMap(s)
      case Some(u) => u.groupBy(col("node"))
        .agg(max_by(col("component"), col("__seg")).as("component"))
    }
  }

  /** Ingest one batch of documents: derive its LSH band keys, emit the
    * star edges (cross-batch via the key store, within-batch via the
    * per-key minimum), contract them through the current map, run CC on
    * the batch-sized contracted graph, and commit (new assignments +
    * relabels of merged components) as the next map segment — then
    * register the batch's novel keys. Returns the committed segment
    * (read back), i.e. exactly the rows whose labels this batch created
    * or changed.
    *
    * Replay-idempotent: a replayed batch's keys are already owned
    * (self-stars), its edges contract to existing labels, CC confirms
    * them, and the rewritten segment carries identical rows.
    */
  def ingest(
      batch: DataFrame,
      dir: String,
      textCol: String,
      idCol: String,
      k: Int = 8,
      bands: Int = 4,
      ngram: Int = 2): DataFrame = {
    val s = batch.sparkSession
    val kd = keysDir(dir)
    val store = Dedup.FingerprintStore.load(s, kd)
    // one tokenize+minhash pass; the frame feeds three consumers
    // (cross-batch probe, within-batch star, key registration) — same
    // materialize-once lesson as dedupeNearIncrementalStaged. LAZY
    // checkpoint (r17 verdict #3, job-count fold): the first action of
    // this ingest — connectedComponents' signature aggregate over the
    // contracted edges — materializes these blocks as part of its own
    // job, so the band-key frame no longer costs a dedicated eager
    // action per epoch; every later consumer (within-batch star, key
    // registration) reads the same truncated blocks.
    val keys = graft.util.OperatorCaches.persisted(Dedup.bandKeys(
      Dedup.minhashSignatures(batch, textCol, idCol, k, ngram), idCol, bands)
      .select(col(idCol).cast("long").as("id"), col("fp")))
    // cross-batch stars: batch doc -> the key's first owner
    val cross = keys
      .join(store.select(col("fp"), col("doc_id").as("owner")), Seq("fp"))
      .select(col("id").as("a"), col("owner").as("b"))
      .filter(col("a") =!= col("b"))
    // within-batch stars: batch doc -> smallest batch id with the key
    val wmin = keys.groupBy(col("fp")).agg(min(col("id")).as("wmin"))
    val within = keys.join(wmin, Seq("fp"))
      .select(col("id").as("a"), col("wmin").as("b"))
      .filter(col("a") =!= col("b"))
    val edges = cross.unionByName(within)
    // contract through the current map, then CC on batch-sized input. A
    // provably-empty map (no committed segments, no generation — a
    // FILESYSTEM check, no Spark job) skips the contraction joins and
    // the map checkpoint entirely: the first ingest of a fresh store is
    // the one-shot CC, and on the q129 gate this path saves the empty
    // frame's materialize + two no-op joins.
    val mapIsEmpty = segments(s, dir).isEmpty && currentGen(s, dir).isEmpty
    val m =
      if (mapIsEmpty) emptyMap(s)
      // persisted for the same reason as `keys` above: CC's first
      // aggregate materializes the blocks inside its own job, and the
      // four consumers (both contraction sides, old labels, relabel)
      // read the cache instead of re-resolving the segment fold
      else graft.util.OperatorCaches.persisted(load(s, dir))
    val contracted = contractEdges(edges, m, mapIsEmpty)
    val seg = SegmentStore.segPath(mapDir(dir), nextMapId(s, dir))
    // no isEmpty pre-probe: it would cost a full evaluation of the
    // contracted plan per ingest, and connectedComponents handles an
    // empty edge set (one signature job) — an edge-free batch just
    // commits an empty segment through the same path
    val segRows = segRowsFor(contracted, m, mapIsEmpty)
    // NOT overlapped (r19 measured-and-reverted): forking the key
    // registration onto a side thread while the CC/mapseg chain runs
    // read consistently WORSE (q129 hot 9.77 -> 10.7-11.0 s) — both
    // actions race the same cold `keys` cache, and the loser blocks on
    // block-level locks while the scheduler interleaves two small
    // serial chains; the backfill variant forks only AFTER its shared
    // frames are eagerly materialized, which is why it can overlap.
    graft.util.Described(s, "cs:mapseg")(
      segRows.write.mode("overwrite").parquet(seg))
    // register store-novel keys (first-owner semantics, min id per key)
    val keyIdx = SegmentStore.nextId(s, kd)
    graft.util.Described(s, "cs:keyseg")(
      keys.groupBy(col("fp")).agg(min(col("id")).as("doc_id"))
        .join(store.select(col("fp")), Seq("fp"), "left_anti")
        .select(col("fp"), col("doc_id"))
        .write.mode("overwrite").parquet(SegmentStore.segPath(kd, keyIdx)))
    // both per-ingest caches are ingest-internal (the key-segment write
    // above is their last consumer; the returned frame reads the
    // committed parquet) — release by direct handle so a long ingest
    // loop holds O(1) cached frames, not O(ingests)
    graft.util.OperatorCaches.releaseFrames(s,
      if (mapIsEmpty) Seq(keys) else Seq(keys, m))
    s.read.schema(mapSchema).parquet(seg)
  }

  /** Replace each edge endpoint that already has a component by its
    * label; self-loops (both endpoints in one component) drop. The CC
    * that follows therefore runs over BATCH-SIZED input touching only
    * affected components, never the accumulated graph.
    */
  private def contractEdges(
      edges: DataFrame, m: DataFrame, mapIsEmpty: Boolean): DataFrame =
    if (mapIsEmpty) edges.filter(col("a") =!= col("b"))
    else edges
      .join(m.select(col("node").as("a"), col("component").as("__ca")),
        Seq("a"), "left")
      .join(m.select(col("node").as("b"), col("component").as("__cb")),
        Seq("b"), "left")
      .select(coalesce(col("__ca"), col("a")).as("a"),
        coalesce(col("__cb"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))

  /** CC over the contracted edges, then the segment delta: (a) new
    * nodes — CC rows whose node is not an existing label; (b) relabels
    * — every member of an old component whose label moved. Nothing else
    * is touched.
    */
  private def segRowsFor(
      contracted: DataFrame, m: DataFrame, mapIsEmpty: Boolean): DataFrame = {
    // contractEdges filtered a == b, so the self-loop-singleton branch
    // would be provably empty — skip its ~4 dead stages per action
    val comps = Cluster.connectedComponents(contracted, "a", "b",
      noSelfLoops = true)
    if (mapIsEmpty) comps.select(col("node"), col("component"))
    else {
      // no distinct: LEFT ANTI is insensitive to duplicate build-side
      // keys, and the defensive aggregate cost two AQE stages per write
      val oldLabels = m.select(col("component"))
      val fresh = comps.join(
        oldLabels.withColumnRenamed("component", "node"), Seq("node"),
        "left_anti")
      val relabel = m.join(
          comps.select(col("node").as("component"),
            col("component").as("__new")),
          Seq("component"))
        .filter(col("__new") =!= col("component"))
        .select(col("node"), col("__new").as("component"))
      fresh.select(col("node"), col("component")).unionByName(relabel)
    }
  }

  /** FUSED BACKFILL of the incremental ingest loop — N queued batches
    * absorbed with semantics (and final STORE BYTES, up to parquet row
    * layout) IDENTICAL to folding [[ingest]] over them in ascending
    * `batchCol` order. The catch-up shape of
    * [[Dedup.dupSpansBackfillStaged]] applied to the cluster map: a
    * stalled pipeline restarts with a backlog, and paying the per-batch
    * tokenize+minhash+band pipeline, key-store probe, and map resolve
    * once per queued batch multiplies the corpus-sized work by the
    * backlog length for zero information.
    *
    * What fuses into ONE corpus pass over the batch union:
    *  - tokenize → minhash → band keys (the dominant cost; keyed by
    *    (batch, doc) so a doc replayed across batches keeps per-batch
    *    keys);
    *  - the cross-batch star edges: the sequential loop's per-batch
    *    key-store probe becomes one window — a key's first owner is the
    *    pre-existing store owner if any, else `min(struct(b, id))` over
    *    the backlog (first batch carrying the key, smallest id within
    *    it — exactly the owner that batch's registration would have
    *    committed), with the edge emitted only for LATER batches
    *    (`fb < b`), matching "the store is probed before this batch
    *    registers";
    *  - the within-batch stars: `min(id)` per (key, batch) window;
    *  - key registration: batch b registers exactly the keys with no
    *    pre-store owner and `fb = b` — every key segment derives from
    *    the one pass, no per-batch probe.
    *
    * What stays a (batch-sized) loop: contraction + CC + segment delta
    * per batch — inherent, because batch k's committed segment is
    * defined against the map state after batch k−1. The loop carries
    * the running map in memory (one latest-wins fold per batch over the
    * just-committed delta), so the per-batch disk resolve of the
    * sequential loop — segment list + generation union per ingest —
    * is also gone. Per-batch cost is CC on contracted (affected-
    * component-sized) edges only.
    *
    * Store identity with the sequential loop (asserted by spec): same
    * map segment indices with the same row sets, same key segments,
    * same resolved [[load]] — so consumers, replays, and [[compact]]
    * behave identically afterwards.
    *
    * `maxBacklogBatches` guards the driver-side distinct-batch collect
    * and the per-batch job count, failing fast with a pointer to the
    * sequential [[ingest]] loop (the `Dedup` backfill discipline).
    *
    * The carried-map and edge frames are localCheckpoint-only: every
    * durable artifact of the loop (map and key segments) commits to the
    * store directory per batch, so a lost executor costs at most the
    * current batch's recompute, not the backlog.
    *
    * Returns the committed map-segment rows, one per (batch, node):
    * (`batchCol`, node, component).
    */
  def ingestBackfill(
      batches: DataFrame,
      batchCol: String,
      dir: String,
      textCol: String,
      idCol: String,
      k: Int = 8,
      bands: Int = 4,
      ngram: Int = 2,
      maxBacklogBatches: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxBacklogBatches >= 1,
      "ingestBackfill: maxBacklogBatches must be >= 1")
    val s = batches.sparkSession
    val kd = keysDir(dir)
    val bs = batches.select(col(batchCol).cast("long")).distinct()
      .limit(maxBacklogBatches + 1)
      .collect().map(_.getLong(0)).sorted
    require(bs.length <= maxBacklogBatches,
      s"ingestBackfill: backlog exceeds maxBacklogBatches=" +
        s"$maxBacklogBatches distinct batch ids — raise the bound, or " +
        "fall back to the sequential ingest loop, which has no " +
        "driver-side backlog bound")
    if (bs.isEmpty) return emptyMap(s).withColumn(batchCol, lit(0L))
      .select(col(batchCol), col("node"), col("component")).limit(0)
    // ONE tokenize+minhash+band pass, keyed by (batch, doc)
    val withB = batches.select(
      struct(col(batchCol).cast("long").as("b"),
        col(idCol).cast("long").as("id")).as("__bid"),
      col(textCol).as("__text"))
    val keys0 = Dedup.bandKeys(
        Dedup.minhashSignatures(withB, "__text", "__bid", k, ngram),
        "__bid", bands)
      .select(col("__bid.b").as("b"), col("__bid.id").as("id"), col("fp"))
      .localCheckpoint(true)
    val store = Dedup.FingerprintStore.load(s, kd)
    // first batch carrying each key + its would-be owner, in one agg
    val firsts = keys0.groupBy(col("fp"))
      .agg(min(struct(col("b"), col("id"))).as("f"))
      .select(col("fp"), col("f.b").as("fb"), col("f.id").as("fid"))
    val wBatch = Window.partitionBy(col("fp"), col("b"))
    val kstat = keys0
      .join(store.select(col("fp"), col("doc_id").as("__pre")), Seq("fp"),
        "left")
      .join(firsts, Seq("fp"))
      .withColumn("__wmin", min(col("id")).over(wBatch))
      .localCheckpoint(true)
    // cross-batch stars: pre-store owner, else the backlog's first
    // owner for strictly later batches; within-batch stars: batch min
    val cross = kstat.select(col("b"),
        col("id").as("a"),
        when(col("__pre").isNotNull, col("__pre"))
          .when(col("fb") < col("b"), col("fid")).as("o"))
      .filter(col("o").isNotNull && col("a") =!= col("o"))
      .withColumnRenamed("o", "e")
    val within = kstat.select(col("b"), col("id").as("a"),
        col("__wmin").as("e"))
      .filter(col("a") =!= col("e"))
    val edgesAll = cross.unionByName(within).localCheckpoint(true)
    // per-batch key registrations, all derived from the one pass
    val regs = kstat.filter(col("__pre").isNull && col("fb") === col("b"))
      .groupBy(col("b"), col("fp")).agg(min(col("fid")).as("doc_id"))
      .localCheckpoint(true)
    // segment index bases — the exact values the sequential loop's
    // per-ingest filesystem probes would have produced
    val segIdx0 = nextMapId(s, dir)
    val keyIdx0 = SegmentStore.nextId(s, kd)
    var mapIsEmpty = segments(s, dir).isEmpty && currentGen(s, dir).isEmpty
    var m = if (mapIsEmpty) emptyMap(s) else load(s, dir).localCheckpoint(true)
    // the key-segment writes are independent of the map loop (each
    // filters the checkpointed regs; distinct output dirs), so all of
    // them run on driver side-threads while the inherently-sequential
    // contraction/CC loop below keeps the main thread (guide §2.6);
    // every one is joined before this returns or throws
    val keyWrites = bs.toSeq.zipWithIndex.map { case (b, i) => () =>
      regs.filter(col("b") === b).select(col("fp"), col("doc_id"))
        .write.mode("overwrite").parquet(SegmentStore.segPath(kd, keyIdx0 + i))
    }
    val committedAll = SegmentStore.withWrites(keyWrites) {
      bs.toSeq.zipWithIndex.map { case (b, i) =>
        val edges = edgesAll.filter(col("b") === b)
          .select(col("a"), col("e").as("b"))
        val contracted = contractEdges(edges, m, mapIsEmpty)
        val seg = SegmentStore.segPath(mapDir(dir), segIdx0 + i)
        segRowsFor(contracted, m, mapIsEmpty).write
          .mode("overwrite").parquet(seg)
        val committed = s.read.schema(mapSchema).parquet(seg)
        // running map: one latest-wins fold over the just-committed
        // delta — the in-memory equivalent of the sequential loop's
        // per-ingest segment resolve
        m =
          if (mapIsEmpty) committed.localCheckpoint(true)
          else m.select(col("node"), col("component"), lit(0L).as("__seg"))
            .unionByName(committed.select(col("node"), col("component"),
              lit(1L).as("__seg")))
            .groupBy(col("node"))
            .agg(max_by(col("component"), col("__seg")).as("component"))
            .localCheckpoint(true)
        mapIsEmpty = false
        committed.withColumn(batchCol, lit(b))
      }
    }
    committedAll.reduce(_ unionByName _)
      .select(col(batchCol), col("node"), col("component"))
  }

  /** Fold the resolved map into a new generation bucketed by `node` and
    * compact the key store. After this the per-ingest contraction join
    * and any consumer keyed by node read the map side exchange-free.
    */
  def compact(
      s: SparkSession,
      dir: String,
      buckets: Int,
      tablePrefix: String = "graft_cluster_store"): String = {
    val prev = currentGen(s, dir)
    val folded = SegmentStore.foldScope(s, mapDir(dir), prev, 0)
    val foldedBelow = folded.lastOption.fold(prev.fold(0L)(_.below))(_._1 + 1)
    val table = SegmentStore.commitBucketed(s, mapDir(dir), prev, folded,
      loadBefore(s, dir, foldedBelow), // resolved fold scope
      "node", buckets, tablePrefix, Some(foldedBelow))
    Dedup.FingerprintStore.compact(s, keysDir(dir), buckets,
      tablePrefix = s"${tablePrefix}_keys")
    table
  }

  /** Drop this store's catalog handles (both substores) — gate/test
    * cleanup; the on-disk data is the caller's to delete.
    */
  def dropTables(s: SparkSession, dir: String): Unit =
    SegmentStore.dropTables(s, dir)

  /** Id the next ingest claims: past the newest committed
    * segment and never below the generation's bound (a segment there
    * would be shadowed by the generation).
    */
  private def nextMapId(s: SparkSession, dir: String): Long =
    math.max(SegmentStore.nextId(s, mapDir(dir)), currentGen(s, dir).fold(0L)(_.below))
}
