package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.operators.{ClusterStore, Dedup}
import graft.streaming.BudgetStream
import graft.util.SegmentStore

/** [[graft.util.SegmentStore]], the store family's one protocol, under
  * fault injection. Every store directory here is built by hand, with
  * the literal marker strings the stores have always written, so each
  * crash window and each marker shape is checked against the on-disk
  * layout rather than against the kernel's own writer.
  */
class SegmentStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mkFile(path: String, content: String): Unit = {
    val out = fs.create(new Path(path), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def content(path: String): String = {
    val in = fs.open(new Path(path))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def exists(path: String): Boolean = fs.exists(new Path(path))

  /** A budget-meter segment or generation: (source, __spent) rows. */
  private def spent(path: String, rows: (String, Long)*): Unit =
    rows.toDF("source", "__spent").write.mode("overwrite").parquet(path)

  /** A write that crashed before its job commit: files, no `_SUCCESS`. */
  private def uncommit(path: String): Unit =
    assert(fs.delete(new Path(path, "_SUCCESS"), false))

  private def meter(dir: String): Map[String, Long] =
    BudgetStream.loadSpent(spark, dir, Long.MaxValue).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Bucketed generation data the way a compaction lays it down, with
    * its catalog handle dropped again (a fresh session's view).
    */
  private def bucketed(df: DataFrame, key: String, buckets: Int, path: String): Unit = {
    df.write.bucketBy(buckets, key).sortBy(key).option("path", path)
      .mode("overwrite").saveAsTable("graft_segstore_layout_tmp")
    spark.sql("DROP TABLE graft_segstore_layout_tmp")
  }

  test("crash after the data write, before _SUCCESS: never read, overwritten by the next commit") {
    val dir = tmpDir("segstore-nosuccess")
    spent(s"$dir/m_00000", "a" -> 2L)
    spent(s"$dir/m_00001", "a" -> 100L, "z" -> 7L)
    uncommit(s"$dir/m_00001")
    assert(SegmentStore.segments(spark, dir, "m_").map(_._1) == Seq(0L))
    assert(meter(dir) == Map("a" -> 2L))
    assert(SegmentStore.nextId(spark, dir, "m_") == 1L)
    // the replayed epoch claims the same id and overwrites the partial dir
    BudgetStream.admitStaged(
      Seq((10L, "a", "x y z")).toDF("doc_id", "source", "text"),
      dir, "text", "doc_id", 100L, 1L).collect()
    assert(SegmentStore.segments(spark, dir, "m_").map(_._1) == Seq(0L, 1L))
    assert(meter(dir) == Map("a" -> 5L))
    // and a compaction folds only committed rows
    assert(BudgetStream.compact(spark, dir, keepNewestSegments = 0) == 2L)
    assert(meter(dir) == Map("a" -> 5L))
  }

  test("crash after gen_N.tmp, before the rename: the old generation is served, purge clears the rest") {
    val dir = tmpDir("segstore-tmp")
    spent(s"$dir/gen_data_00001", "a" -> 10L, "b" -> 1L)
    mkFile(s"$dir/gen_00001", "gen_data_00001\t2")
    spent(s"$dir/m_00002", "a" -> 1L)
    // the crashed compaction: generation 2's data and its unrenamed marker
    spent(s"$dir/gen_data_00002", "a" -> 11L, "b" -> 1L)
    mkFile(s"$dir/gen_00002.tmp", "gen_data_00002\t3")
    assert(SegmentStore.currentGen(spark, dir).map(_.no) == Some(1L))
    assert(meter(dir) == Map("a" -> 11L, "b" -> 1L))
    val purged = BudgetStream.purgeSuperseded(spark, dir)
    assert(purged.map(p => new Path(p).getName).toSet ==
      Set("gen_00002.tmp", "gen_data_00002"), purged.mkString(", "))
    Seq("gen_00001", "gen_data_00001", "m_00002")
      .foreach(n => assert(exists(s"$dir/$n"), n))
    assert(meter(dir) == Map("a" -> 11L, "b" -> 1L))
    // the retried compaction commits generation 2 under the same names,
    // marker content byte-for-byte the established shape
    assert(BudgetStream.compact(spark, dir, keepNewestSegments = 0) == 3L)
    assert(content(s"$dir/gen_00002") == "gen_data_00002\t3")
    assert(meter(dir) == Map("a" -> 11L, "b" -> 1L))
    Seq("gen_00001", "gen_data_00001", "m_00002")
      .foreach(n => assert(!exists(s"$dir/$n"), n))
    assert(BudgetStream.purgeSuperseded(spark, dir).isEmpty)
  }

  test("crash after the rename, before cleanup: nothing counts twice, purge reclaims the rest") {
    val dir = tmpDir("segstore-cleanup")
    // generation 1 folded m_00000..m_00001, generation 2 also m_00002;
    // neither compaction's cleanup ran
    spent(s"$dir/m_00000", "a" -> 50L)
    spent(s"$dir/m_00001", "b" -> 60L)
    spent(s"$dir/gen_data_00001", "a" -> 50L, "b" -> 60L)
    mkFile(s"$dir/gen_00001", "gen_data_00001\t2")
    spent(s"$dir/m_00002", "a" -> 1L)
    spent(s"$dir/gen_data_00002", "a" -> 51L, "b" -> 60L)
    mkFile(s"$dir/gen_00002", "gen_data_00002\t3")
    spent(s"$dir/m_00003", "a" -> 4L)
    val want = Map("a" -> 55L, "b" -> 60L)
    assert(meter(dir) == want)
    assert(BudgetStream.loadSpent(spark, dir, 3L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 51L, "b" -> 60L))
    intercept[IllegalArgumentException] { BudgetStream.loadSpent(spark, dir, 2L) }
    val purged = BudgetStream.purgeSuperseded(spark, dir)
    assert(purged.map(p => new Path(p).getName).toSet ==
      Set("gen_00001", "gen_data_00001", "m_00000", "m_00001", "m_00002"),
      purged.mkString(", "))
    assert(exists(s"$dir/gen_00002") && exists(s"$dir/m_00003"))
    assert(meter(dir) == want)
    assert(BudgetStream.purgeSuperseded(spark, dir).isEmpty)
  }

  test("layout: stores of every marker shape open through the kernel with known rows") {
    // sum meter, `sub \t below`: generation + segments at or above the
    // bound; a leftover below it and an uncommitted one are invisible
    val m = tmpDir("segstore-layout-meter")
    spent(s"$m/gen_data_00003", "a" -> 7L, "b" -> 2L)
    mkFile(s"$m/gen_00003", "gen_data_00003\t5")
    spent(s"$m/m_00004", "a" -> 1000L)
    spent(s"$m/m_00005", "a" -> 1L)
    spent(s"$m/m_00006", "a" -> 999L)
    uncommit(s"$m/m_00006")
    val mg = SegmentStore.currentGen(spark, m).get
    assert(mg == SegmentStore.Gen(3L, "gen_data_00003", foldedBelow = Some(5L)))
    assert(mg.marker == content(s"$m/gen_00003"))
    assert(meter(m) == Map("a" -> 8L, "b" -> 2L))

    // fingerprints, `table \t sub \t buckets`: the handle is re-created
    // over the bucketed data, then unioned with the segments
    val f = tmpDir("segstore-layout-fp")
    val fpTable = "graft_layout_fp_g00002"
    bucketed(Seq(("fp1", 1L), ("fp2", 2L)).toDF("fp", "doc_id"), "fp", 4,
      s"$f/gen_data_00002")
    mkFile(s"$f/gen_00002", s"$fpTable\tgen_data_00002\t4")
    Seq(("fp3", 3L)).toDF("fp", "doc_id").write.parquet(s"$f/seg_00003")
    val fg = SegmentStore.currentGen(spark, f).get
    assert(fg == SegmentStore.Gen(2L, "gen_data_00002", Some(fpTable), Some(4)))
    assert(fg.marker == content(s"$f/gen_00002"))
    assert(Dedup.FingerprintStore.load(spark, f).as[(String, Long)].collect().toSet ==
      Set(("fp1", 1L), ("fp2", 2L), ("fp3", 3L)))
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(fpTable))
    assert(meta.bucketSpec.map(b => (b.numBuckets, b.bucketColumnNames)) ==
      Some((4, Seq("fp"))))

    // cluster map, `table \t sub \t buckets \t below`: latest segment wins
    // per node; a stale label below the bound cannot resurrect
    val c = tmpDir("segstore-layout-cluster")
    val mapTable = "graft_layout_map_g00001"
    bucketed(Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)).toDF("node", "component"),
      "node", 2, s"$c/map/gen_data_00001")
    mkFile(s"$c/map/gen_00001", s"$mapTable\tgen_data_00001\t2\t2")
    Seq((2L, 99L)).toDF("node", "component").write.parquet(s"$c/map/seg_00001")
    Seq((5L, 1L), (6L, 1L)).toDF("node", "component").write.parquet(s"$c/map/seg_00002")
    Seq((1L, 77L)).toDF("node", "component").write.parquet(s"$c/map/seg_00003")
    uncommit(s"$c/map/seg_00003")
    val cg = SegmentStore.currentGen(spark, s"$c/map").get
    assert(cg == SegmentStore.Gen(1L, "gen_data_00001", Some(mapTable), Some(2), Some(2L)))
    assert(cg.marker == content(s"$c/map/gen_00001"))
    assert(ClusterStore.load(spark, c).as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L))
    Seq(fpTable, mapTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("relative store dir: generations land in the store dir, and purge reclaims them") {
    // relative to the working directory, as a caller's relative path is
    val rel = s"target/segstore-rel-${java.util.UUID.randomUUID()}"
    val leaked = new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")), rel)
    Seq(new Path(rel), leaked).foreach(p => SparkSpec.registerForCleanup(
      java.nio.file.Paths.get(fs.makeQualified(p).toUri)))
    val fpDir = s"$rel/fp"
    val cDir = s"$rel/cluster"
    val text = (1 to 12).map(i => s"w$i").mkString(" ")
    def docs(ids: Long*): DataFrame =
      ids.map(i => (i, s"$text $i")).toDF("doc_id", "text")
    def fpRound(ids: Long*): Unit = {
      Dedup.dedupeIncrementalStaged(docs(ids: _*), fpDir, "text", "doc_id").collect()
      Dedup.FingerprintStore.compact(spark, fpDir, buckets = 2,
        tablePrefix = "graft_relfp"): Unit
    }
    def clusterRound(ids: Long*): Unit = {
      ClusterStore.ingest(docs(ids: _*), cDir, "text", "doc_id")
      ClusterStore.compact(spark, cDir, buckets = 2, tablePrefix = "graft_relc"): Unit
    }
    try {
      fpRound(1L, 2L); fpRound(3L)
      clusterRound(1L, 2L); clusterRound(3L)
      Dedup.FingerprintStore.purgeSuperseded(spark, fpDir)
      SegmentStore.purge(spark, s"$cDir/map")
      Dedup.FingerprintStore.purgeSuperseded(spark, s"$cDir/keys")
      assert(!fs.exists(leaked), s"generation data written under $leaked")
      // each substore holds exactly its current generation's data dir
      Seq(fpDir, s"$cDir/map", s"$cDir/keys").foreach { d =>
        val subs = fs.listStatus(new Path(d)).map(_.getPath.getName)
          .filter(_.startsWith("gen_data_")).toSeq
        assert(subs == SegmentStore.currentGen(spark, d).map(_.sub).toSeq, d)
      }
      assert(Dedup.FingerprintStore.load(spark, fpDir).count() == 3L)
    } finally {
      ClusterStore.dropTables(spark, cDir)
      SegmentStore.currentGen(spark, fpDir).flatMap(_.table)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("scratch: every store generation's handle under the root is dropped, the root deleted, on return and on throw") {
    val text = (1 to 12).map(i => s"w$i").mkString(" ")
    def docs(ids: Long*): DataFrame =
      ids.map(i => (i, s"$text $i")).toDF("doc_id", "text")
    // one compacted FingerprintStore and one compacted ClusterStore (map
    // + keys substores) side by side under the scratch root
    def fill(root: String): Seq[String] = {
      val (fpDir, cDir) = (s"$root/fp", s"$root/cluster")
      Dedup.dedupeIncrementalStaged(docs(1L, 2L), fpDir, "text", "doc_id").collect()
      Dedup.FingerprintStore.compact(spark, fpDir, buckets = 2,
        tablePrefix = "graft_scratch_fp"): Unit
      ClusterStore.ingest(docs(1L, 2L), cDir, "text", "doc_id")
      ClusterStore.compact(spark, cDir, buckets = 2, tablePrefix = "graft_scratch_c"): Unit
      val tables = Seq(fpDir, s"$cDir/map", s"$cDir/keys")
        .flatMap(d => SegmentStore.currentGen(spark, d).flatMap(_.table))
      assert(tables.size == 3 && tables.forall(spark.catalog.tableExists))
      tables
    }
    def cleaned(root: String, tables: Seq[String]): Unit = {
      assert(tables.size == 3)
      assert(!tables.exists(spark.catalog.tableExists), tables)
      assert(!exists(root), root)
    }
    var root = ""
    var tables = Seq.empty[String]
    assert(graft.Queries.scratch(spark, "graft_scratch_ok") { r =>
      root = r; tables = fill(r); 7
    } == 7)
    cleaned(root, tables)
    val ex = intercept[IllegalStateException] {
      graft.Queries.scratch(spark, "graft_scratch_fail") { r =>
        root = r; tables = fill(r)
        throw new IllegalStateException("body")
      }
    }
    assert(ex.getMessage == "body")
    cleaned(root, tables)
  }

  test("withWrites: every forked write is joined before the call returns or throws") {
    val done = new java.util.concurrent.atomic.AtomicInteger()
    val slow = () => { Thread.sleep(300); done.incrementAndGet(): Unit }
    val ex = intercept[IllegalStateException] {
      SegmentStore.withWrites(Seq(slow, () => throw new RuntimeException("write"), slow)) {
        throw new IllegalStateException("main")
      }
    }
    assert(done.get == 2)
    assert(ex.getMessage == "main")
    assert(ex.getSuppressed.map(_.getMessage).toSeq == Seq("write"))
    // with `main` green, the first failing write propagates, unwrapped,
    // once every write has ended
    done.set(0)
    val ex2 = intercept[RuntimeException] {
      SegmentStore.withWrites(Seq(() => throw new RuntimeException("first"), slow))(42)
    }
    assert(ex2.getMessage == "first" && done.get == 1)
    assert(SegmentStore.withWrites(Seq(slow))(7) == 7 && done.get == 2)
  }
  test("withWrites: every fork's jobs carry the caller's job group and description") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.rddInfos.exists(_.name == "withWrites_fork")))
          seen.add((e.properties.getProperty("spark.jobGroup.id"),
            e.properties.getProperty("spark.job.description")))
    }
    val job = () => sc.parallelize(1 to 4, 2).setName("withWrites_fork").count(): Unit
    sc.addSparkListener(listener)
    try {
      for (g <- Seq("q_first", "q_second")) {
        sc.setJobGroup(g, s"$g desc")
        try SegmentStore.withWrites(Seq.fill(4)(job))(())
        finally sc.clearJobGroup()
      }
      val deadline = System.nanoTime() + 20L * 1000000000L
      while (seen.size < 8 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally sc.removeSparkListener(listener)
    val got = seen.toArray.toSeq.map(_.asInstanceOf[(String, String)])
    assert(got.groupBy(identity).map { case (k, v) => k -> v.size } == Map(
      ("q_first", "q_first desc") -> 4, ("q_second", "q_second desc") -> 4), got)
  }

  test("withWrites: cancelJobGroup on the caller's group stops a sleeping fork") {
    val sc = spark.sparkContext
    val group = "withWrites_cancel"
    val canceller = new Thread(() => {
      val deadline = System.nanoTime() + 20L * 1000000000L
      while (sc.statusTracker.getJobIdsForGroup(group).isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(50)
      sc.cancelJobGroup(group)
    })
    sc.setJobGroup(group, "cancel probe", interruptOnCancel = true)
    val t0 = System.nanoTime()
    try {
      canceller.start()
      intercept[org.apache.spark.SparkException] {
        SegmentStore.withWrites(Seq(() =>
          sc.parallelize(1 to 2, 2).map { x => Thread.sleep(60000); x }.count(): Unit))(())
      }
    } finally {
      sc.clearJobGroup()
      canceller.join()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30, s"withWrites returned after $secs s")
  }

  test("src/main forks work only through withWrites and the Bench/Verify watchdogs") {
    val fork = "Executors\\.|CompletableFuture\\.|withThreadLocalCaptured|new Thread\\b".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .toArray.toSeq.map(_.toString).filter(_.endsWith(".scala"))
      .filterNot(f => f.endsWith("/Bench.scala") || f.endsWith("/Verify.scala"))
    assert(files.exists(_.endsWith("/SegmentStore.scala")))
    val offenders = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      val (start, end) =
        if (!f.endsWith("/SegmentStore.scala")) (-1, -1)
        else {
          val st = text.indexOf("def withWrites[")
          assert(st >= 0, "SegmentStore.withWrites is gone")
          (st, text.indexOf("\n  }\n", st))
        }
      fork.findAllMatchIn(text).map(_.start).filterNot(i => i > start && i < end)
        .map(i => s"$f:${text.take(i).count(_ == '\n') + 1}")
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
