package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Cluster, ClusterStore, Dedup}

/** [[graft.operators.ClusterStore]] — the persisted incremental
  * duplicate-cluster map. The invariant under test everywhere: after any
  * ingest sequence (any batch split, any order, replays, compactions),
  * `load` equals the ONE-SHOT pipeline
  * minhash → lshCandidates → connectedComponents over the union of all
  * ingested batches.
  */
class ClusterStoreSpec extends SparkSpec {
  import spark.implicits._

  /** One-shot reference over a corpus: (node -> component) for every
    * doc in a non-singleton cluster.
    */
  private def oneShot(corpus: DataFrame): Map[Long, Long] = {
    val sigs = Dedup.minhashSignatures(corpus, "text", "doc_id", k = 8, ngram = 2)
    val pairs = Dedup.lshCandidates(sigs, "doc_id", bands = 4)
    Cluster.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component"))
      .toMap
  }

  private def loadMap(dir: String): Map[Long, Long] =
    ClusterStore.load(spark, dir)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component"))
      .toMap

  // distinct filler so unrelated docs share no bigrams at all
  private def fill(tag: String): String =
    (1 to 12).map(i => s"$tag$i").mkString(" ")

  test("incremental ingest equals the one-shot pipeline (3 batches, cross-batch dups)") {
    val dir = tmpDir("graft_cstore")
    // batch 1: dup pair (1,2), singleton 3
    val b1 = Seq(
      (1L, fill("alpha")), (2L, fill("alpha")), (3L, fill("solo"))
    ).toDF("doc_id", "text")
    // batch 2: 11 dups batch-1's doc 1 (cross-batch edge); 12 unique
    val b2 = Seq(
      (11L, fill("alpha")), (12L, fill("beta"))
    ).toDF("doc_id", "text")
    // batch 3: 21 dups 12 (cross-batch), 22+23 dup each other (within)
    val b3 = Seq(
      (21L, fill("beta")), (22L, fill("gamma")), (23L, fill("gamma"))
    ).toDF("doc_id", "text")
    ClusterStore.ingest(b1, dir, "text", "doc_id")
    ClusterStore.ingest(b2, dir, "text", "doc_id")
    ClusterStore.ingest(b3, dir, "text", "doc_id")
    val got = loadMap(dir)
    val want = oneShot(b1.unionByName(b2).unionByName(b3))
    assert(got == want)
    // singletons are absent from the map — caller-coalesce contract
    assert(!got.contains(3L))
    assert(got(11L) == 1L && got(21L) == 12L && got(23L) == 22L)
    ClusterStore.dropTables(spark, dir)
  }

  test("late edge merges two existing components; only their members are rewritten") {
    val dir = tmpDir("graft_cstore")
    val b1 = Seq((10L, fill("aa")), (11L, fill("aa"))).toDF("doc_id", "text")
    val b2 = Seq((20L, fill("bb")), (21L, fill("bb"))).toDF("doc_id", "text")
    ClusterStore.ingest(b1, dir, "text", "doc_id")
    ClusterStore.ingest(b2, dir, "text", "doc_id")
    assert(loadMap(dir) == Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // bridge doc shares keys with BOTH components -> they merge to min 10
    val bridge = Seq((30L, fill("aa") + " " + fill("bb"))).toDF("doc_id", "text")
    val seg = ClusterStore.ingest(bridge, dir, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("component"))
      .toMap
    // the committed segment touches exactly the new node + the merged
    // component's relabeled members — nothing else
    assert(seg == Map(30L -> 10L, 20L -> 10L, 21L -> 10L))
    val all = b1.unionByName(b2).unionByName(bridge)
    assert(loadMap(dir) == oneShot(all))
  }

  test("a later-arriving smaller id becomes the component minimum") {
    val dir = tmpDir("graft_cstore")
    val b1 = Seq((50L, fill("zz")), (51L, fill("zz"))).toDF("doc_id", "text")
    ClusterStore.ingest(b1, dir, "text", "doc_id")
    val b2 = Seq((7L, fill("zz"))).toDF("doc_id", "text")
    ClusterStore.ingest(b2, dir, "text", "doc_id")
    assert(loadMap(dir) == Map(7L -> 7L, 50L -> 7L, 51L -> 7L))
    assert(loadMap(dir) == oneShot(b1.unionByName(b2)))
  }

  test("replayed batch is idempotent; compaction is invisible; post-compaction ingest works") {
    val dir = tmpDir("graft_cstore")
    val b1 = Seq(
      (1L, fill("aa")), (2L, fill("aa")), (3L, fill("bb"))
    ).toDF("doc_id", "text")
    val b2 = Seq((13L, fill("bb"))).toDF("doc_id", "text")
    ClusterStore.ingest(b1, dir, "text", "doc_id")
    ClusterStore.ingest(b2, dir, "text", "doc_id")
    val before = loadMap(dir)
    // replay batch 2 (the crash-recovery path): map unchanged
    ClusterStore.ingest(b2, dir, "text", "doc_id")
    assert(loadMap(dir) == before)
    // compact both substores, then keep ingesting
    ClusterStore.compact(spark, dir, buckets = 4)
    assert(loadMap(dir) == before)
    val b3 = Seq((23L, fill("aa"))).toDF("doc_id", "text")
    ClusterStore.ingest(b3, dir, "text", "doc_id")
    val all = b1.unionByName(b2).unionByName(b3)
    assert(loadMap(dir) == oneShot(all))
    // segment indices must keep ascending past the fold boundary (a
    // restart at seg_00000 would be shadowed by the generation)
    assert(ClusterStore.segments(spark, dir).nonEmpty)
    ClusterStore.dropTables(spark, dir)
  }

  test("batch-order insensitivity: components equal regardless of ingest order") {
    val batches = Seq(
      Seq((1L, fill("pp")), (9L, fill("qq"))),
      Seq((5L, fill("pp")), (6L, fill("qq"))),
      Seq((3L, fill("pp") + " " + fill("qq"))))
    val union = batches.flatten.toDF("doc_id", "text")
    val want = oneShot(union)
    for (perm <- Seq(batches, batches.reverse)) {
      val dir = tmpDir("graft_cstore")
      perm.foreach(b =>
        ClusterStore.ingest(b.toDF("doc_id", "text"), dir, "text", "doc_id"))
      assert(loadMap(dir) == want, s"order ${perm.map(_.map(_._1))}")
    }
  }

  /** Full store state: map segment id -> row set, key segment id ->
    * row set, plus the resolved map — the identity a backfill must
    * reproduce byte-for-byte (up to parquet row layout).
    */
  private def storeState(dir: String)
      : (Map[Long, Set[(Long, Long)]], Map[Long, Set[(String, Long)]],
         Map[Long, Long]) = {
    def segId(p: String) = p.substring(p.lastIndexOf("seg_") + 4).toLong
    val mapSegs = ClusterStore.segments(spark, dir).map { p =>
      segId(p) -> spark.read.schema(ClusterStore.mapSchema).parquet(p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }.toMap
    val keySegs = Dedup.FingerprintStore.segments(spark, s"$dir/keys")
      .map { p =>
        segId(p) -> spark.read.parquet(p)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      }.toMap
    (mapSegs, keySegs, loadMap(dir))
  }

  test("ingestBackfill: one-pass backlog == the sequential ingest loop, store-identical") {
    // q67's planted shape: originals, identical copies (cross-batch
    // dup), a bridge, and a replayed doc id inside the backlog
    val b0 = Seq((1L, fill("aa")), (2L, fill("aa")), (3L, fill("bb")))
    val b1 = Seq((13L, fill("bb")), (14L, fill("cc")))
    val b2 = Seq((23L, fill("aa") + " " + fill("bb")), (24L, fill("cc")),
      (14L, fill("cc"))) // 14 replayed in a later batch
    val seqDir = tmpDir("graft_cstore_seq")
    val fusedDir = tmpDir("graft_cstore_fused")
    Seq(b0, b1, b2).foreach(b =>
      ClusterStore.ingest(b.toDF("doc_id", "text"), seqDir, "text", "doc_id"))
    val backlog = Seq(b0, b1, b2).zipWithIndex
      .flatMap { case (rows, i) => rows.map(t => (i.toLong, t._1, t._2)) }
      .toDF("bt", "doc_id", "text")
    val committed = ClusterStore.ingestBackfill(
      backlog, "bt", fusedDir, "text", "doc_id")
    assert(storeState(fusedDir) == storeState(seqDir))
    // the returned frame is exactly the committed per-batch deltas
    val bySeg = committed.collect()
      .groupBy(_.getLong(0))
      .map { case (b, rs) =>
        b -> rs.map(r => (r.getLong(1), r.getLong(2))).toSet }
    assert(bySeg == storeState(seqDir)._1)
    // and the map equals the one-shot pipeline over the union
    val union = (b0 ++ b1 ++ b2).toDF("doc_id", "text")
    assert(loadMap(fusedDir) == oneShot(union))
  }

  test("ingestBackfill against a NON-empty, compacted store probes pre-existing history") {
    val b0 = Seq((1L, fill("aa")), (2L, fill("aa")), (3L, fill("bb")))
    val b1 = Seq((13L, fill("bb"))) // links to pre-seeded 3 via the store
    val b2 = Seq((7L, fill("aa"))) // later-arriving smaller id relabels
    val seqDir = tmpDir("graft_cstore_seq_pre")
    val fusedDir = tmpDir("graft_cstore_fused_pre")
    for (d <- Seq(seqDir, fusedDir)) {
      ClusterStore.ingest(b0.toDF("doc_id", "text"), d, "text", "doc_id")
      ClusterStore.compact(spark, d, buckets = 2,
        tablePrefix = s"graft_cstore_bf_${d.hashCode.abs}")
    }
    Seq(b1, b2).foreach(b =>
      ClusterStore.ingest(b.toDF("doc_id", "text"), seqDir, "text", "doc_id"))
    val backlog = Seq(b1, b2).zipWithIndex
      .flatMap { case (rows, i) => rows.map(t => (i.toLong, t._1, t._2)) }
      .toDF("bt", "doc_id", "text")
    ClusterStore.ingestBackfill(backlog, "bt", fusedDir, "text", "doc_id")
    assert(storeState(fusedDir) == storeState(seqDir))
    assert(loadMap(fusedDir) ==
      oneShot((b0 ++ b1 ++ b2).toDF("doc_id", "text")))
    // a later sequential ingest lands on the backfilled store unchanged
    val b3 = Seq((30L, fill("bb"))).toDF("doc_id", "text")
    ClusterStore.ingest(b3, seqDir, "text", "doc_id")
    ClusterStore.ingest(b3, fusedDir, "text", "doc_id")
    assert(storeState(fusedDir) == storeState(seqDir))
    Seq(seqDir, fusedDir).foreach(d => ClusterStore.dropTables(spark, d))
  }

  test("ingestBackfill: maxBacklogBatches guard fails fast; empty backlog is a no-op") {
    val dir = tmpDir("graft_cstore_guard")
    val backlog = Seq((0L, 1L, fill("aa")), (1L, 2L, fill("aa")))
      .toDF("bt", "doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      ClusterStore.ingestBackfill(backlog, "bt", dir, "text", "doc_id",
        maxBacklogBatches = 1)
    }
    assert(ex.getMessage.contains("maxBacklogBatches"))
    assert(ClusterStore.segments(spark, dir).isEmpty,
      "guard must fire before any segment commit")
    val empty = ClusterStore.ingestBackfill(backlog.limit(0), "bt", dir,
      "text", "doc_id")
    assert(empty.count() == 0 &&
      ClusterStore.segments(spark, dir).isEmpty)
  }

  test("fresh session over a persisted store: load re-registers the generation handle") {
    val dir = tmpDir("graft_cstore")
    val b1 = Seq((1L, fill("aa")), (2L, fill("aa"))).toDF("doc_id", "text")
    ClusterStore.ingest(b1, dir, "text", "doc_id")
    ClusterStore.compact(spark, dir, buckets = 2)
    val before = loadMap(dir)
    // simulate a restart with the default in-memory catalog: drop the
    // handles, then load — the marker re-registers them from disk
    ClusterStore.dropTables(spark, dir)
    assert(loadMap(dir) == before)
    ClusterStore.dropTables(spark, dir)
  }

  test("ingestBackfill: a failing map write leaves no key-segment write running") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("graft_cstore_fail")
    // `map` is a FILE, so the first map-segment write throws while the
    // key-segment writes run on side threads
    val out = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(new Path(s"$dir/map"), true)
    out.write("not a directory".getBytes("UTF-8")); out.close()
    val n = 32
    val backlog = (0 until n).flatMap(b =>
        Seq((b.toLong, 10L * b + 1, fill(s"t$b")), (b.toLong, 10L * b + 2, fill(s"t$b"))))
      .toDF("bt", "doc_id", "text")
    intercept[Exception] {
      ClusterStore.ingestBackfill(backlog, "bt", dir, "text", "doc_id")
    }
    // every key write was joined before the exception left the call
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(Dedup.FingerprintStore.segments(spark, s"$dir/keys").size == n)
  }
}
