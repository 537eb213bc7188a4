package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{ParquetUpsertTable, PartitionedUpsertTable}

/** Streaming CDC apply: micro-batches of change rows merged into a
  * versioned parquet table, exactly-once table state from
  * at-least-once batch delivery.
  */
class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private def state(t: ParquetUpsertTable): Map[Long, (Long, String)] =
    t.snapshot().get.collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[Long]("v"), r.getAs[String]("p"))))
      .toMap

  test("three change batches through a real stream yield the merged table") {
    val dir = tmpDir("graft_upsert_tbl")
    val table = new ParquetUpsertTable(spark, dir, Seq("k"), "v")
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val q = mem.toDF().toDF("k", "v", "p")
      .writeStream
      .option("checkpointLocation", tmpDir("graft_upsert_ckpt"))
      .foreachBatch(table.sink)
      .start()
    try {
      mem.addData((1L, 1L, "a1"), (2L, 1L, "b1"))
      q.processAllAvailable()
      assert(state(table) == Map(1L -> ((1L, "a1")), 2L -> ((1L, "b1"))))
      mem.addData((1L, 2L, "a2"), (3L, 1L, "c1"))
      q.processAllAvailable()
      assert(state(table) == Map(1L -> ((2L, "a2")), 2L -> ((1L, "b1")),
        3L -> ((1L, "c1"))))
      // stale change (v=1 < committed v=2 for key 1) must NOT regress the row
      mem.addData((1L, 1L, "a0-late"), (2L, 5L, "b2"))
      q.processAllAvailable()
      assert(state(table) == Map(1L -> ((2L, "a2")), 2L -> ((5L, "b2")),
        3L -> ((1L, "c1"))))
    } finally q.stop()
  }

  test("replaying a committed batch id is a no-op (no rewrite, no regression)") {
    val dir = tmpDir("graft_upsert_replay")
    val table = new ParquetUpsertTable(spark, dir, Seq("k"), "v", keepVersions = 3)
    table.applyBatch(Seq((1L, 1L, "a1")).toDF("k", "v", "p"), batchId = 0)
    table.applyBatch(Seq((1L, 2L, "a2")).toDF("k", "v", "p"), batchId = 1)
    val committed = state(table)
    // at-least-once delivery: batch 0 arrives again after batch 1 was
    // committed — already folded in, so nothing moves
    table.applyBatch(Seq((1L, 1L, "a1")).toDF("k", "v", "p"), batchId = 0)
    assert(table.latestVersion.get.endsWith("1"))
    assert(state(table) == committed)
  }

  test("a crashed half-written version is invisible and reclaimed on replay") {
    val dir = tmpDir("graft_upsert_crash")
    val table = new ParquetUpsertTable(spark, dir, Seq("k"), "v")
    table.applyBatch(Seq((1L, 1L, "a1")).toDF("k", "v", "p"), batchId = 0)
    // simulate a crash mid-write of batch 1: a version dir with data
    // files but NO _SUCCESS marker (the committer writes it last)
    val partial = new java.io.File(dir, "v_00000000000000000001")
    assert(partial.mkdirs())
    val junk = new java.io.File(partial, "part-00000.parquet")
    java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
    // readers never see the partial version
    assert(table.latestVersion.get.endsWith("0"))
    assert(state(table) == Map(1L -> ((1L, "a1"))))
    // the replayed batch overwrites the partial dir and commits it
    table.applyBatch(Seq((1L, 5L, "a2")).toDF("k", "v", "p"), batchId = 1)
    assert(table.latestVersion.get.endsWith("1"))
    assert(state(table) == Map(1L -> ((5L, "a2"))))
    assert(!junk.exists()) // the crashed attempt's file is gone
  }

  test("same-key same-version conflict resolves deterministically") {
    import graft.operators.Merge
    val base = Seq((1L, 0L, "base")).toDF("k", "v", "p")
    val conflicted = Seq((1L, 5L, "x"), (1L, 5L, "y")).toDF("k", "v", "p")
      .repartition(4) // spread across partitions: arrival order must not matter
    val winners = (1 to 5).map { _ =>
      Merge.upsertLatest(base, conflicted, Seq("k"), "v")
        .collect().map(_.getString(2)).toSeq
    }
    assert(winners.distinct == Seq(Seq("y"))) // ties break by remaining cols desc
  }

  test("restart on the same checkpoint: the replayed epoch is skipped exactly-once") {
    val inDir = tmpDir("graft_upsert_rec_in")
    val ckpt = tmpDir("graft_upsert_rec_ckpt")
    val tableDir = tmpDir("graft_upsert_rec_tbl")
    val table = new ParquetUpsertTable(spark, tableDir, Seq("k"), "v")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
    def writeInput(rows: (Long, Long, String)*): Unit =
      rows.toSeq.toDF("k", "v", "p").coalesce(1).write.mode("append").parquet(inDir)
    def start() = spark.readStream.schema(schema).parquet(inDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(table.sink).start()

    // run 1: two micro-batches (0 and 1) through the sink
    writeInput((1L, 1L, "a1"), (2L, 1L, "b1"))
    val q1 = start()
    try {
      q1.processAllAvailable()
      writeInput((1L, 2L, "a2"), (3L, 1L, "c1"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(state(table) == Map(1L -> ((2L, "a2")), 2L -> ((1L, "b1")),
      3L -> ((1L, "c1"))))

    // crash simulation: the sink committed epoch 1 but the engine died
    // before recording the offset commit — delete the commit marker, so
    // the restart REPLAYS epoch 1 (at-least-once delivery, for real)
    assert(new java.io.File(ckpt, "commits/1").delete())
    // the local ChecksumFileSystem's sidecar must go too, or the replay's
    // metadata rename fails and masquerades as a concurrent-query error
    new java.io.File(ckpt, "commits/.1.crc").delete()
    val v1files = listing(tableDir, "v_00000000000000000001")
    writeInput((2L, 5L, "b2")) // epoch 2, delivered after the replay
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // the replayed epoch rewrote NOTHING (same files, same mtimes)...
    assert(listing(tableDir, "v_00000000000000000001") == v1files)
    // ...and the final state matches the one-shot merge of all changes
    assert(state(table) == Map(1L -> ((2L, "a2")), 2L -> ((5L, "b2")),
      3L -> ((1L, "c1"))))
    val vdirs = new java.io.File(tableDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v_")).map(_.getName)
    assert(vdirs.toSeq.sorted ==
      Seq("v_00000000000000000001", "v_00000000000000000002"))
  }

  test("deletes tombstone a key; late lower-versioned updates cannot resurrect it") {
    val dir = tmpDir("graft_upsert_del")
    val table = new ParquetUpsertTable(spark, dir, Seq("k"), "v")
    table.applyBatch(Seq((1L, 1L, "a1"), (2L, 1L, "b1"), (3L, 1L, "c1"))
      .toDF("k", "v", "p"), 0)
    // batch 1: delete k=1 at v=5, update k=2 to v=3
    table.applyChanges(
      Seq((2L, 3L, "b2")).toDF("k", "v", "p"),
      Seq((1L, 5L)).toDF("k", "v"), 1)
    assert(state(table) == Map(2L -> ((3L, "b2")), 3L -> ((1L, "c1"))))
    // batch 2: late update for k=1 at v=4 (< tombstone's 5) must stay dead;
    // update at v=6 for k=3 applies normally
    table.applyBatch(Seq((1L, 4L, "a-late"), (3L, 6L, "c2")).toDF("k", "v", "p"), 2)
    assert(state(table) == Map(2L -> ((3L, "b2")), 3L -> ((6L, "c2"))))
    // batch 3: update at v=7 (> tombstone's 5) resurrects k=1
    table.applyBatch(Seq((1L, 7L, "a-reborn")).toDF("k", "v", "p"), 3)
    assert(state(table) == Map(1L -> ((7L, "a-reborn")), 2L -> ((3L, "b2")),
      3L -> ((6L, "c2"))))
  }

  test("purgeTombstones drops only tombstones older than the horizon") {
    import org.apache.spark.sql.functions.lit
    val dir = tmpDir("graft_upsert_purge")
    val table = new ParquetUpsertTable(spark, dir, Seq("k"), "v")
    table.applyBatch(Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"))
      .toDF("k", "v", "p"), 0)
    table.applyChanges(Seq.empty[(Long, Long, String)].toDF("k", "v", "p"),
      Seq((1L, 3L), (2L, 8L)).toDF("k", "v"), 1) // tombstones at v=3 and v=8
    // horizon 5: k=1's tombstone (v=3) is past the lateness window, k=2's
    // (v=8) is still inside it
    table.purgeTombstones(lit(5L), batchId = 2)
    assert(state(table) == Map(3L -> ((1L, "c"))))
    val stored = spark.read
      .parquet(new java.io.File(dir, "v_00000000000000000002").getPath)
    val tombs = stored.filter(stored("__tombstone")).collect()
      .map(_.getAs[Long]("k")).toSet
    assert(tombs == Set(2L)) // k=1's purged, k=2's retained
    // the retained tombstone still blocks late lower-versioned updates;
    // the purged one no longer does — the documented retention contract:
    // the horizon must trail max change lateness
    table.applyBatch(Seq((1L, 2L, "a-late"), (2L, 5L, "b-late"))
      .toDF("k", "v", "p"), 3)
    assert(state(table) == Map(1L -> ((2L, "a-late")), 3L -> ((1L, "c"))))
    // replaying the purge batch id is a no-op
    table.purgeTombstones(lit(99L), batchId = 2)
    assert(state(table) == Map(1L -> ((2L, "a-late")), 3L -> ((1L, "c"))))
  }

  test("delete beats a data row on an exact version tie") {
    import graft.operators.Merge
    val base = Seq((1L, 1L, "a")).toDF("k", "v", "p")
    val updates = Seq((1L, 5L, "a2"), (2L, 5L, "b")).toDF("k", "v", "p")
    val deletes = Seq((1L, 5L)).toDF("k", "v")
    val got = Merge.applyChanges(base, updates, deletes, Seq("k"), "v")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(2L -> "b")) // k=1's v=5 retraction applies
    // keepTombstones surfaces the deleted key, flagged, payload null
    val kept = Merge.applyChanges(base, updates, deletes, Seq("k"), "v",
      keepTombstones = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Boolean](Merge.TombstoneCol), Option(r.get(2))))).toMap
    assert(kept == Map(1L -> ((true, None)), 2L -> ((false, Some("b")))))
  }

  test("snapshotAt time-travels within the retained version window") {
    val dir = tmpDir("graft_upsert_tt")
    val table = new ParquetUpsertTable(spark, dir, Seq("k"), "v", keepVersions = 3)
    table.applyBatch(Seq((1L, 1L, "a1")).toDF("k", "v", "p"), 0)
    table.applyChanges(Seq((2L, 1L, "b1")).toDF("k", "v", "p"),
      Seq((1L, 5L)).toDF("k", "v"), 1)
    table.applyBatch(Seq((3L, 1L, "c1")).toDF("k", "v", "p"), 2)
    def at(id: Long) = table.snapshotAt(id).map(_.collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("p")).toMap)
    assert(at(0).contains(Map(1L -> "a1")))
    assert(at(1).contains(Map(2L -> "b1"))) // k=1 tombstoned at batch 1
    assert(at(2).contains(Map(2L -> "b1", 3L -> "c1")))
    assert(at(7) == at(2)) // future id floors to the newest version

    // partitioned: untouched partitions contribute their older chain head
    val pdir = tmpDir("graft_part_tt")
    val pt = seed(pdir)
    pt.applyBatch(Seq((1L, 2L, "a2", "2024-01-01")).toDF("k", "v", "p", "day"), 1)
    val at0 = pt.snapshotAt(0).get.collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("p")).toMap
    assert(at0 == Map(1L -> "a1", 2L -> "b1", 3L -> "c1"))
    val at1 = pt.snapshotAt(1).get.collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("p")).toMap
    assert(at1 == Map(1L -> "a2", 2L -> "b1", 3L -> "c1"))
  }

  test("schema evolution: a widening batch flows through when opted in") {
    import graft.operators.Merge
    val base = Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "v", "p")
    val widened = Seq((2L, 2L, "b2", "extra")).toDF("k", "v", "p", "q")
    // widening is refused: the table schema is fixed
    val ex = intercept[IllegalArgumentException] {
      Merge.upsertLatest(base, widened, Seq("k"), "v")
    }
    assert(ex.getMessage.contains("absent from base"))
    // narrowing is never allowed: update rows replace the WHOLE row
    val ex2 = intercept[IllegalArgumentException] {
      Merge.applyChanges(base, Seq((2L, 2L)).toDF("k", "v"),
        base.limit(0).select("k", "v"), Seq("k"), "v")
    }
    assert(ex2.getMessage.contains("full-row replacement"))
  }

  test("non-orderable (map) payload columns merge; reserved names rejected both sides") {
    import graft.operators.Merge
    // MapType can't appear in an ORDER BY — the tie-break must hash it
    val base = Seq((1L, 1L, Map("a" -> 1))).toDF("k", "v", "m")
    val updates = Seq((1L, 2L, Map("a" -> 2)), (2L, 1L, Map("b" -> 3)))
      .toDF("k", "v", "m")
    val out = Merge.upsertLatest(base, updates, Seq("k"), "v")
      .collect().map(r => r.getLong(0) -> r.getMap[String, Int](2).toMap).toMap
    assert(out == Map(1L -> Map("a" -> 2), 2L -> Map("b" -> 3)))
    // an updates frame smuggling a reserved working column fails fast
    // with the require message, not an opaque union/window error
    val ex = intercept[IllegalArgumentException] {
      Merge.upsertLatest(base,
        updates.withColumn("__rn", org.apache.spark.sql.functions.lit(1)), Seq("k"), "v")
    }
    assert(ex.getMessage.contains("__src/__rn"))
  }

  // ------------------------------------------------------------------ //
  // partition-scoped copy-on-write
  // ------------------------------------------------------------------ //

  private def pstate(t: PartitionedUpsertTable): Map[Long, (Long, String, String)] =
    t.snapshot().get.collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[Long]("v"),
        r.getAs[String]("p"), r.getAs[String]("day")))).toMap

  /** Every file under dir/part, with size and mtime — byte-identity proxy. */
  private def listing(dir: String, part: String): Set[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir, part))
      .map(f => (f.getPath, f.length, f.lastModified)).toSet
  }

  private def seed(dir: String): PartitionedUpsertTable = {
    val t = new PartitionedUpsertTable(spark, dir, Seq("k"), "v", "day")
    t.applyBatch(Seq(
      (1L, 1L, "a1", "2024-01-01"),
      (2L, 1L, "b1", "2024-01-02"),
      (3L, 1L, "c1", "2024-01-03")).toDF("k", "v", "p", "day"), 0)
    t
  }

  private val noDeletes =
    () => Seq.empty[(Long, Long, String)].toDF("k", "v", "day")

  test("partitioned COW rewrites only the touched partition; others are byte-identical") {
    val dir = tmpDir("graft_part_touch")
    val t = seed(dir)
    assert(t.partitionDirs ==
      Seq("day=2024-01-01", "day=2024-01-02", "day=2024-01-03"))
    val before1 = listing(dir, "day=2024-01-01")
    val before3 = listing(dir, "day=2024-01-03")
    t.applyChanges(Seq((2L, 2L, "b2", "2024-01-02")).toDF("k", "v", "p", "day"),
      noDeletes(), 1)
    // untouched partitions: same files, same sizes, same mtimes
    assert(listing(dir, "day=2024-01-01") == before1)
    assert(listing(dir, "day=2024-01-03") == before3)
    // touched partition advanced to the batch's version
    assert(new java.io.File(dir, "day=2024-01-02/v_00000000000000000001").isDirectory)
    assert(pstate(t) == Map(
      1L -> ((1L, "a1", "2024-01-01")),
      2L -> ((2L, "b2", "2024-01-02")),
      3L -> ((1L, "c1", "2024-01-03"))))
  }

  test("partitioned COW deletes tombstone within their named partition only") {
    val dir = tmpDir("graft_part_del")
    val t = seed(dir)
    val before2 = listing(dir, "day=2024-01-02")
    t.applyChanges(Seq.empty[(Long, Long, String, String)].toDF("k", "v", "p", "day"),
      Seq((1L, 5L, "2024-01-01")).toDF("k", "v", "day"), 1)
    assert(listing(dir, "day=2024-01-02") == before2)
    assert(pstate(t) == Map(
      2L -> ((1L, "b1", "2024-01-02")),
      3L -> ((1L, "c1", "2024-01-03"))))
    // the tombstone holds: a late lower-versioned update can't resurrect
    t.applyChanges(Seq((1L, 3L, "a-late", "2024-01-01")).toDF("k", "v", "p", "day"),
      noDeletes(), 2)
    assert(pstate(t).get(1L).isEmpty)
  }

  test("bootstrap bulk-loads all partitions in one job; merges compose on top") {
    val dir = tmpDir("graft_part_boot")
    val t = new PartitionedUpsertTable(spark, dir, Seq("k"), "v", "day")
    t.bootstrap(Seq(
      (1L, 1L, "a1", "2024-01-01"),
      (2L, 1L, "b1", "2024-01-02"),
      (3L, 1L, "c1", "2024-01-02")).toDF("k", "v", "p", "day"), 0)
    assert(t.partitionDirs == Seq("day=2024-01-01", "day=2024-01-02"))
    // every partition committed (markers present), no staging residue
    assert(new java.io.File(dir,
      "day=2024-01-02/v_00000000000000000000/_SUCCESS").exists())
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_staging")))
    assert(pstate(t) == Map(
      1L -> ((1L, "a1", "2024-01-01")),
      2L -> ((1L, "b1", "2024-01-02")),
      3L -> ((1L, "c1", "2024-01-02"))))
    // re-running the bootstrap (replay) is a no-op on committed partitions
    val before = t.partitionDirs.map(p => p -> listing(dir, p)).toMap
    t.bootstrap(Seq((1L, 9L, "ghost", "2024-01-01")).toDF("k", "v", "p", "day"), 0)
    t.partitionDirs.foreach(p => assert(listing(dir, p) == before(p)))
    // merge on top of the bootstrapped (tombstone-less) layout
    t.applyChanges(Seq((2L, 2L, "b2", "2024-01-02")).toDF("k", "v", "p", "day"),
      Seq((3L, 2L, "2024-01-02")).toDF("k", "v", "day"), 1)
    assert(pstate(t) == Map(
      1L -> ((1L, "a1", "2024-01-01")),
      2L -> ((2L, "b2", "2024-01-02"))))
  }

  test("partitioned sink behind a real checkpointed stream") {
    val dir = tmpDir("graft_part_stream")
    val t = new PartitionedUpsertTable(spark, dir, Seq("k"), "v", "day")
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, String)]
    val q = mem.toDF().toDF("k", "v", "p", "day")
      .writeStream
      .option("checkpointLocation", tmpDir("graft_part_stream_ckpt"))
      .foreachBatch(t.sink)
      .start()
    try {
      mem.addData((1L, 1L, "a1", "2024-01-01"), (2L, 1L, "b1", "2024-01-02"))
      q.processAllAvailable()
      assert(pstate(t) == Map(1L -> ((1L, "a1", "2024-01-01")),
        2L -> ((1L, "b1", "2024-01-02"))))
      mem.addData((1L, 2L, "a2", "2024-01-01"))
      q.processAllAvailable()
      assert(pstate(t) == Map(1L -> ((2L, "a2", "2024-01-01")),
        2L -> ((1L, "b1", "2024-01-02"))))
      // day 2 untouched by batch 1: still on its bootstrap-batch version
      assert(new java.io.File(dir,
        "day=2024-01-02").listFiles().map(_.getName).count(_.startsWith("v_")) == 1)
    } finally q.stop()
  }

  test("multi-partition batch rewrites concurrently, bounded files per version") {
    val dir = tmpDir("graft_part_multi")
    val t = new PartitionedUpsertTable(spark, dir, Seq("k"), "v", "day")
    t.applyBatch(Seq(
      (1L, 1L, "a1", "2024-01-01"),
      (2L, 1L, "b1", "2024-01-02"),
      (3L, 1L, "c1", "2024-01-03")).toDF("k", "v", "p", "day"), 0)
    // one batch touching all three partitions → three rewrites
    t.applyChanges(Seq(
      (1L, 2L, "a2", "2024-01-01"),
      (2L, 2L, "b2", "2024-01-02"),
      (4L, 1L, "d1", "2024-01-03")).toDF("k", "v", "p", "day"),
      Seq((3L, 5L, "2024-01-03")).toDF("k", "v", "day"), 1)
    assert(pstate(t) == Map(
      1L -> ((2L, "a2", "2024-01-01")),
      2L -> ((2L, "b2", "2024-01-02")),
      4L -> ((1L, "d1", "2024-01-03"))))
    // every committed version dir holds exactly one data file
    t.partitionDirs.foreach { p =>
      val v1 = new java.io.File(dir, s"$p/v_00000000000000000001")
      assert(v1.isDirectory, s"$p not rewritten by the multi-partition batch")
      val dataFiles = v1.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(dataFiles.length == 1, s"$p: ${dataFiles.length} files")
    }
  }

  test("partitioned purgeTombstones rewrites only the named partitions") {
    import org.apache.spark.sql.functions.lit
    val dir = tmpDir("graft_part_purge")
    val t = seed(dir)
    // tombstone k=1 (day 1) at v=3 and k=2 (day 2) at v=8
    t.applyChanges(Seq.empty[(Long, Long, String, String)].toDF("k", "v", "p", "day"),
      Seq((1L, 3L, "2024-01-01"), (2L, 8L, "2024-01-02")).toDF("k", "v", "day"), 1)
    val before2 = listing(dir, "day=2024-01-02")
    val before3 = listing(dir, "day=2024-01-03")
    // purge day 1 only, horizon 5: its v=3 tombstone goes; days 2/3 untouched
    t.purgeTombstones(lit(5L), batchId = 2, partitions = Some(Seq("2024-01-01")))
    assert(listing(dir, "day=2024-01-02") == before2)
    assert(listing(dir, "day=2024-01-03") == before3)
    val day1 = spark.read.parquet(
      new java.io.File(dir, "day=2024-01-01/v_00000000000000000002").getPath)
    assert(day1.count() == 0) // only content was the now-purged tombstone
    // day 2's newer tombstone still blocks late lower-versioned updates
    t.applyBatch(Seq((2L, 5L, "b-late", "2024-01-02")).toDF("k", "v", "p", "day"), 3)
    assert(pstate(t) == Map(3L -> ((1L, "c1", "2024-01-03"))))
  }

  test("a three-way merge (base + updates + deletes) still shuffles once") {
    import graft.operators.Merge
    val base = (1L to 100L).map(i => (i, i, s"p$i")).toDF("k", "v", "p")
    val updates = Seq((1L, 200L, "u")).toDF("k", "v", "p")
    val deletes = Seq((2L, 200L)).toDF("k", "v")
    val plan = Merge.applyChanges(base, updates, deletes, Seq("k"), "v")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1 && plan.contains("hashpartitioning(k"),
      s"expected exactly one key-partitioned exchange:\n$plan")
    // the rn=1 filter must plan as WindowGroupLimit on BOTH sides of the
    // exchange — map tasks keep only their local top-1 per key before
    // shuffling, so a hot key ships one row, not its change history
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit:\n$plan")
  }

  test("partitioned COW replay skips committed partitions; GC is per-partition") {
    val dir = tmpDir("graft_part_replay")
    val t = seed(dir)
    val upd = Seq((1L, 2L, "a2", "2024-01-01")).toDF("k", "v", "p", "day")
    t.applyChanges(upd, noDeletes(), 1)
    val all = t.partitionDirs.map(p => p -> listing(dir, p)).toMap
    // at-least-once replay of the committed batch: nothing moves anywhere
    t.applyChanges(upd, noDeletes(), 1)
    t.partitionDirs.foreach(p => assert(listing(dir, p) == all(p)))
    // two more batches on day 1 — its v_0 is GC'd, other partitions keep theirs
    t.applyChanges(Seq((1L, 3L, "a3", "2024-01-01")).toDF("k", "v", "p", "day"),
      noDeletes(), 2)
    t.applyChanges(Seq((1L, 4L, "a4", "2024-01-01")).toDF("k", "v", "p", "day"),
      noDeletes(), 3)
    val v1 = new java.io.File(dir, "day=2024-01-01").listFiles()
      .filter(_.getName.startsWith("v_")).map(_.getName).sorted
    assert(v1.toSeq ==
      Seq("v_00000000000000000002", "v_00000000000000000003"))
    val v2 = new java.io.File(dir, "day=2024-01-02").listFiles()
      .filter(_.getName.startsWith("v_")).map(_.getName)
    assert(v2.toSeq == Seq("v_00000000000000000000"))
    assert(pstate(t)(1L) == ((4L, "a4", "2024-01-01")))
  }

  test("old versions are GC'd beyond keepVersions; in-batch dup keys collapse") {
    val dir = tmpDir("graft_upsert_gc")
    // keepVersions floor is 2 (a concurrent reader of the previous
    // version must survive the next commit's GC), so GC is observed at
    // the THIRD commit: v_0 goes, the two newest stay
    val table = new ParquetUpsertTable(spark, dir, Seq("k"), "v", keepVersions = 2)
    intercept[IllegalArgumentException] {
      new ParquetUpsertTable(spark, dir, Seq("k"), "v", keepVersions = 1)
    }
    table.applyBatch(Seq((1L, 1L, "x"), (1L, 9L, "y")).toDF("k", "v", "p"), 0)
    table.applyBatch(Seq((2L, 1L, "z")).toDF("k", "v", "p"), 1)
    table.applyBatch(Seq((3L, 1L, "w")).toDF("k", "v", "p"), 2)
    assert(state(table) == Map(1L -> ((9L, "y")), 2L -> ((1L, "z")),
      3L -> ((1L, "w"))))
    val vdirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v_")).map(_.getName)
    assert(vdirs.toSeq.sorted ==
      Seq("v_00000000000000000001", "v_00000000000000000002"))
  }

  test("snapshots resolve from the commit manifest, one file read, listing as fallback") {
    val dir = tmpDir("graft_part_manifest")
    val t = seed(dir)
    t.applyBatch(Seq((1L, 2L, "a2", "2024-01-01")).toDF("k", "v", "p", "day"), 1)
    // the chain exists and its head names the last batch
    val manifests = new java.io.File(dir, "_manifests").listFiles()
      .map(_.getName).filterNot(_.endsWith(".crc")).sorted
    assert(manifests.last == "m_v_00000000000000000001")
    val viaManifest = pstate(t)
    assert(viaManifest(1L) == ((2L, "a2", "2024-01-01")))

    // plant a FOREIGN committed version dir the manifest never
    // referenced: a listing-based resolution would read it; manifest
    // resolution must not see it — which proves snapshot() resolves
    // from the one manifest read, not from per-partition listings
    val foreignDir = new java.io.File(dir, "day=2024-01-02/v_00000000000000000009")
    Seq((9L, 9L, "z9", "2024-01-02")).toDF("k", "v", "p", "day")
      .write.parquet(foreignDir.getPath)
    assert(new java.io.File(foreignDir, "_SUCCESS").exists())
    assert(pstate(t) == viaManifest)
    // snapshotAt rides the manifest chain the same way
    val at1 = t.snapshotAt(1).get.collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("p")).toMap
    assert(at1 == Map(1L -> "a2", 2L -> "b1", 3L -> "c1"))

    // fallback/repair path: with the manifests gone, the listing
    // resolution takes over (and now sees the planted dir — the two
    // paths agree whenever the filesystem matches the manifest)
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(): Unit
    }
    deleteRec(new java.io.File(dir, "_manifests"))
    val viaListing = pstate(t)
    assert(viaListing(9L) == ((9L, "z9", "2024-01-02")))
    assert(viaListing - 9L - 2L + (2L -> viaManifest(2L)) == viaManifest)
    // the next batch repairs the chain from the listing
    t.applyBatch(Seq((3L, 2L, "c2", "2024-01-03")).toDF("k", "v", "p", "day"), 10)
    assert(pstate(t)(9L) == ((9L, "z9", "2024-01-02"))) // foreign dir folded in
    assert(new java.io.File(dir, "_manifests/m_v_00000000000000000010").exists())
  }

  test("persisted tombstones carry their partition value, not null") {
    import graft.operators.Merge
    val dir = tmpDir("graft_part_tomb_attr")
    val t = seed(dir)
    t.applyChanges(Seq.empty[(Long, Long, String, String)].toDF("k", "v", "p", "day"),
      Seq((1L, 5L, "2024-01-01")).toDF("k", "v", "day"), 1)
    // read the stored frame directly (not through snapshot, which drops
    // tombstones): the delete row must be attributable to its partition
    val stored = spark.read.parquet(
      new java.io.File(dir, "day=2024-01-01/v_00000000000000000001").getPath)
    val tomb = stored.filter(stored(Merge.TombstoneCol)).collect()
    assert(tomb.length == 1)
    assert(tomb.head.getAs[String]("day") == "2024-01-01")
    assert(tomb.head.isNullAt(tomb.head.fieldIndex("p"))) // payload still padded
  }

  test("purgeTombstones on a pre-tombstone-layout table is a no-op") {
    import org.apache.spark.sql.functions.lit
    val dir = tmpDir("graft_upsert_pretomb")
    // a version written before the tombstone feature: no __tombstone col
    Seq((1L, 1L, "a")).toDF("k", "v", "p").write
      .parquet(new java.io.File(dir, "v_00000000000000000000").getPath)
    val table = new ParquetUpsertTable(spark, dir, Seq("k"), "v")
    table.purgeTombstones(lit(5L), batchId = 1) // must not throw
    assert(table.latestVersion.contains("v_00000000000000000000")) // no new commit
    assert(state(table) == Map(1L -> ((1L, "a"))))
  }

  test("unsafe partition values are rejected before anything commits") {
    val dir = tmpDir("graft_part_unsafe")
    val t = new PartitionedUpsertTable(spark, dir, Seq("k"), "v", "day")
    // merge path: a raw '/' would nest directories; ':' would diverge
    // from the hive-escaped bootstrap dir; null has no path form
    intercept[IllegalArgumentException] {
      t.applyBatch(Seq((1L, 1L, "a", "2024/01")).toDF("k", "v", "p", "day"), 0)
    }
    intercept[IllegalArgumentException] {
      t.applyChanges(Seq.empty[(Long, Long, String, String)].toDF("k", "v", "p", "day"),
        Seq((1L, 1L, null.asInstanceOf[String])).toDF("k", "v", "day"), 0)
    }
    // bootstrap path: partitionBy hive-escapes ':' — caught before any
    // partition is renamed into place
    intercept[IllegalArgumentException] {
      t.bootstrap(Seq((1L, 1L, "a", "2024:01")).toDF("k", "v", "p", "day"))
    }
    assert(t.partitionDirs.isEmpty, "a rejected batch must commit nothing")
    // sane values still flow
    t.applyBatch(Seq((1L, 1L, "a", "2024-01-01")).toDF("k", "v", "p", "day"), 1)
    assert(t.partitionDirs == Seq("day=2024-01-01"))
  }

  private def plantClaim(dir: String, batchId: Long, owner: String): Unit = {
    val d = java.nio.file.Paths.get(dir, "_claims")
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.write(d.resolve(f"v_$batchId%020d"),
      owner.getBytes("UTF-8")): Unit
  }

  test("optimistic concurrency: a live foreign claim aborts the commit, table untouched") {
    import graft.streaming.ConcurrentWriteException
    val dir = tmpDir("graft_upsert_occ")
    val t = new ParquetUpsertTable(spark, dir, Seq("k"), "v")
    t.applyBatch(Seq((1L, 1L, "a1")).toDF("k", "v", "p"), batchId = 0)
    val committed = state(t)
    // a racing writer is mid-commit on version 1 (its claim is live)
    plantClaim(dir, 1L, "other-writer")
    intercept[ConcurrentWriteException] {
      t.applyBatch(Seq((2L, 1L, "b1")).toDF("k", "v", "p"), batchId = 1)
    }
    // nothing moved, and the FOREIGN claim was not deleted by our abort
    assert(state(t) == committed)
    assert(t.latestVersion.get.endsWith("0"))
    assert(t.outstandingClaims == Seq((f"v_${1L}%020d", "other-writer")))
    // a DIFFERENT version id aborts too: the racer's base cannot
    // include a commit that hasn't happened yet
    intercept[ConcurrentWriteException] {
      t.applyBatch(Seq((2L, 1L, "b1")).toDF("k", "v", "p"), batchId = 2)
    }
    // operator releases the stuck claim (crashed foreign writer) → flows
    t.releaseClaim(f"v_${1L}%020d")
    t.applyBatch(Seq((2L, 1L, "b1")).toDF("k", "v", "p"), batchId = 1)
    assert(state(t) == committed + (2L -> ((1L, "b1"))))
    // after the commit, no claim residue
    assert(t.outstandingClaims.isEmpty)
  }

  test("optimistic concurrency: same-writer claim (crash replay) reclaims in place; dead claims GC") {
    val dir = tmpDir("graft_upsert_occ_self")
    val t = new ParquetUpsertTable(spark, dir, Seq("k"), "v")
    t.applyBatch(Seq((1L, 1L, "a1")).toDF("k", "v", "p"), batchId = 0)
    // our own claim from a crashed prior attempt at batch 1 (default
    // writerId): the retry must proceed, not deadlock on itself
    plantClaim(dir, 1L, "writer")
    t.applyBatch(Seq((1L, 2L, "a2")).toDF("k", "v", "p"), batchId = 1)
    assert(state(t)(1L) == ((2L, "a2")))
    assert(t.outstandingClaims.isEmpty)
    // a DEAD foreign claim (at or below the committed frontier) never
    // blocks and is GC'd by the next commit
    plantClaim(dir, 1L, "other-writer")
    t.applyBatch(Seq((3L, 1L, "c1")).toDF("k", "v", "p"), batchId = 2)
    assert(state(t)(3L) == ((1L, "c1")))
    assert(t.outstandingClaims.isEmpty)
  }

  test("optimistic concurrency: partitioned table claims before touching any partition") {
    import graft.streaming.ConcurrentWriteException
    val dir = tmpDir("graft_part_occ")
    val t = new PartitionedUpsertTable(spark, dir, Seq("k"), "v", "day")
    t.applyBatch(Seq((1L, 1L, "a1", "2024-01-01")).toDF("k", "v", "p", "day"), 0)
    val before = t.snapshot().get.collect().toSet
    plantClaim(dir, 1L, "other-writer")
    intercept[ConcurrentWriteException] {
      t.applyBatch(Seq((2L, 1L, "b1", "2024-01-02")).toDF("k", "v", "p", "day"), 1)
    }
    // aborted BEFORE any partition dir was created for the new day
    assert(t.partitionDirs == Seq("day=2024-01-01"))
    assert(t.snapshot().get.collect().toSet == before)
    t.releaseClaim(f"v_${1L}%020d")
    t.applyBatch(Seq((2L, 1L, "b1", "2024-01-02")).toDF("k", "v", "p", "day"), 1)
    assert(t.partitionDirs == Seq("day=2024-01-01", "day=2024-01-02"))
    assert(t.outstandingClaims.isEmpty)
    // fully-committed replay early-skips without consulting claims
    plantClaim(dir, 1L, "other-writer")
    t.applyBatch(Seq((2L, 9L, "stale", "2024-01-02")).toDF("k", "v", "p", "day"), 1)
    assert(t.snapshot().get.filter($"k" === 2L).collect().head.getAs[String]("p") == "b1")
  }
}
