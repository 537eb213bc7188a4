package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.functions.TextFunctions
import graft.operators.{Dedup, Layout, LmScore, Merge, Profile}

/** Corpus-curation operators: decontamination, PII scrubbing, layout
  * compaction (including the partition-pruning property the layout
  * exists to buy).
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("decontaminate drops exactly the train docs sharing an n-gram with eval") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),        // shares "alpha beta gamma"
      (2L, "epsilon zeta eta theta"),        // clean
      (3L, "x y alpha beta gamma tail"),     // shares, embedded
      (4L, "alpha beta X gamma")             // bigram overlap only — stays at n=3
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(train, eval, "text", "doc_id", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
  }

  test("decontaminate with an empty eval set keeps everything") {
    val train = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val eval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.decontaminate(train, eval, "text", "doc_id").count() == 1)
  }

  test("scrubPii redacts urls, emails and phone runs; counts match") {
    val df = Seq(
      (1L, "mail me at a.b+c@ex-ample.org or see https://x.io/p?q=1 now"),
      (2L, "call +1 (555) 010-7788 twice: 555 010 7788"),
      (3L, "clean text with the number 42 and v2.0 left alone")
    ).toDF("id", "t")
    val counts = TextFunctions.piiCounts(col("t"))
    val got = df.select(col("id"), TextFunctions.scrubPii(col("t")).as("c"),
        counts(0).as("u"), counts(1).as("e"), counts(2).as("n"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(got(1L) == (("mail me at <EMAIL> or see <URL> now", 1, 1, 0)))
    assert(got(2L) == (("call +<NUM> twice: <NUM>", 0, 0, 2)))
    assert(got(3L) == (("clean text with the number 42 and v2.0 left alone", 0, 0, 0)))
  }

  test("scrubPii swallows an email-shaped userinfo inside a url as one URL") {
    val got = Seq((1L, "fetch http://user@host.com/path here"))
      .toDF("id", "t")
      .select(TextFunctions.scrubPii(col("t"))).head().getString(0)
    assert(got == "fetch <URL> here")
  }

  test("compactByDay writes one sorted file per day and prunes on the day key") {
    val out = tmpDir("graft_layout_spec")
    // 2 days × interleaved ids across 3 input partitions — the small-file mess
    val rows = (0L until 60L).map { i =>
      (i, java.sql.Timestamp.valueOf(s"2024-01-0${1 + (i % 2)} 0${i % 10}:00:00"))
    }
    val df = rows.toDF("event_id", "ts").repartition(3)
    val table = Layout.compactByDay(df, "ts", "event_id", out)
    val audit = Layout.auditByDay(table, "event_id").collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_files"))).toMap
    assert(audit == Map("2024-01-01" -> ((30L, 1L)), "2024-01-02" -> ((30L, 1L))))

    // the point of the layout: a day filter prunes to that day's ONE file
    val pruned = table.filter(col("day") === lit("2024-01-02"))
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    assert(scan.metadata("PartitionFilters").contains("day"))
    pruned.count() // materialize so selectedPartitions is exercised
    assert(scan.relation.location.inputFiles.length == 2) // table has 2 files total
    val readFiles = pruned.select(input_file_name()).distinct().collect()
    assert(readFiles.length == 1) // ...but the day filter reads exactly 1

    // rows inside each file are sorted by event_id (row-group skip fodder)
    val perFile = table.select(col("event_id"), input_file_name().as("f"))
      .collect().groupBy(_.getString(1))
    perFile.values.foreach { rs =>
      val ids = rs.map(_.getLong(0)).toSeq
      assert(ids == ids.sorted)
    }
  }

  test("tokenDrift: appearing/vanishing/shifting tokens rank by ppm delta; top-k is not a full sort") {
    val a = Seq((1L, "alpha alpha beta gamma"), (2L, "alpha beta")).toDF("doc_id", "text")
    val b = Seq((3L, "beta beta beta delta"), (4L, "beta gamma")).toDF("doc_id", "text")
    val got = Profile.tokenDrift(a, b, "text", topK = 10).collect()
      .map(r => (r.getAs[String]("tok"), r.getAs[Long]("ppm_a"),
        r.getAs[Long]("ppm_b"), r.getAs[Long]("drift_ppm")))
    // side A: alpha 3/6, beta 2/6, gamma 1/6; side B: beta 4/6,
    // delta 1/6, gamma 1/6 — alpha vanished (500000 ppm drift),
    // beta grew, delta appeared
    val byTok = got.map(t => t._1 -> t).toMap
    assert(byTok("alpha") == (("alpha", 500000L, 0L, 500000L)))
    assert(byTok("beta") == (("beta", 333333L, 666666L, 333333L)))
    assert(byTok("delta") == (("delta", 0L, 166666L, 166666L)))
    assert(byTok("gamma")._4 == 0L)
    // ranked by drift desc, token asc
    assert(got.map(_._1).toSeq == Seq("alpha", "beta", "delta", "gamma"))
    // top-k plans as TakeOrderedAndProject (per-partition heads + driver
    // merge), never a full global sort
    val plan = Profile.tokenDrift(a, b, "text", topK = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("tokenShards: bins respect the budget, assignment is layout-independent, no global-sort window") {
    val docs = (1L to 200L).map(i => (i, 10L + i % 7)).toDF("doc_id", "w")
    val got = Layout.tokenShards(docs, "doc_id", "w", budget = 100L, salt = "t")
    val rows = got.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("w"), r.getAs[Long]("shard_id")))
    assert(rows.length == 200)
    // sequential replay: the two-pass distributed cumsum must equal the
    // plain ordered prefix sum
    val h = docs.select(col("doc_id"),
        TextFunctions.stableHash60(concat(col("doc_id").cast("string"),
          lit(":t"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var cum = 0L
    val expected = rows.map(t => (t._1, t._2)).sortBy(t => (h(t._1), t._1))
      .map { case (id, w) => val s = cum / 100L; cum += w; id -> s }.toMap
    assert(rows.map(t => t._1 -> t._3).toMap == expected)
    // bin property: every shard except the last holds >= budget - max(w)
    val perShard = rows.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    val lastShard = perShard.keys.max
    assert(perShard.filter(_._1 != lastShard).values.forall(_ >= 100L - 16L))
    // layout-independent: identical assignment from any input partitioning
    val re = Layout.tokenShards(docs.repartition(7), "doc_id", "w", 100L, "t")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shard_id"))
      .toMap
    assert(re == rows.map(t => t._1 -> t._3).toMap)
    // scale shape: the window partitions by spark_partition_id — no
    // single-partition exchange anywhere in the plan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("upsertLatest: latest version wins, updates beat base on ties, inserts land") {
    val base = Seq(
      (1L, 10L, "a"),  // will be updated by a newer version
      (2L, 10L, "b"),  // tied version — update must win
      (3L, 10L, "c")   // untouched
    ).toDF("k", "v", "payload")
    val updates = Seq(
      (1L, 20L, "a2"),
      (2L, 10L, "b2"),
      (4L, 5L, "d")    // pure insert
    ).toDF("k", "v", "payload")
    val got = Merge.upsertLatest(base, updates, Seq("k"), "v")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got == Map(1L -> ((20L, "a2")), 2L -> ((10L, "b2")),
      3L -> ((10L, "c")), 4L -> ((5L, "d"))))
  }

  test("upsertLatest keeps exactly one row per key under repeated updates") {
    val base = Seq((1L, 0L, "x")).toDF("k", "v", "payload")
    val updates = Seq((1L, 1L, "u1"), (1L, 2L, "u2"), (1L, 3L, "u3"))
      .toDF("k", "v", "payload")
    val got = Merge.upsertLatest(base, updates, Seq("k"), "v").collect()
    assert(got.length == 1 && got.head.getString(2) == "u3")
  }

  test("foldAdditive: sequential folds equal one-shot agg; bucketed state folds with ONE exchange") {
    val raw = Seq(
      (Some("a"), 1L, 10L), (Some("a"), 2L, 5L), (Some("b"), 3L, 7L),
      (None, 4L, 2L), (None, 5L, 1L), (Some("b"), 6L, 3L)
    ).toDF("k", "id", "x")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val empty = agg(raw).limit(0)
    // three disjoint deltas folded sequentially...
    val state = (0L to 2L).foldLeft(empty) { (st, i) =>
      Merge.foldAdditive(st, agg(raw.filter(col("id") % 3 === i)), Seq("k"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    // ...equal the one-shot aggregate — including the NULL key group,
    // which the null-safe join must keep as ONE group across folds
    assert(rows(state) == rows(agg(raw)))
    // state schema is fixed across folds (typed zero + cast-back);
    // nullability may widen, names/types must not
    assert(state.schema.map(f => (f.name, f.dataType)) ==
      empty.schema.map(f => (f.name, f.dataType)))
  }

  test("q95/q96 gates: integer cuts, best-first order, empty docs never kept") {
    val p95 = Queries.qualityPercentileGate(spark, sf0001).collect()
    assert(p95.nonEmpty)
    p95.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val n = rows.head.getAs[Long]("src_n")
      assert(rows.length.toLong == n)
      // the kept set is exactly ranks 1..floor(0.6 n) — integer cut
      val keptRanks = rows.filter(_.getAs[Boolean]("kept"))
        .map(_.getAs[Long]("src_rank")).sorted.toSeq
      assert(keptRanks == (1L to (n * 6 / 10)))
    }
    val p96 = Queries.tokenBudgetMixture(spark, sf0001).collect()
    p96.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val total = rows.head.getAs[Long]("src_tokens")
      // every kept doc's running total is within budget; the budget is
      // spent best-first so kept rows form a prefix of the cum ordering
      val kept = rows.filter(_.getAs[Boolean]("kept"))
      assert(kept.forall(_.getAs[Long]("cum_tokens") * 10 <= total * 4))
      val maxKeptCum = kept.map(_.getAs[Long]("cum_tokens")).maxOption
      rows.filterNot(_.getAs[Boolean]("kept")).foreach { r =>
        maxKeptCum.foreach(m => assert(r.getAs[Long]("cum_tokens") > m))
      }
    }
  }

  test("foldAdditive: an all-NULL additive group stays NULL, like the one-shot aggregate") {
    // SQL sum over an all-null group is NULL; a fold that substitutes the
    // typed zero for it would break the "state equals the one-shot
    // aggregate" invariant the operator documents
    val batch1 = Seq(("a", Option(1L)), ("b", Option.empty[Long])).toDF("k", "x")
    val batch2 = Seq(("a", Option.empty[Long]), ("b", Option.empty[Long])).toDF("k", "x")
    val raw = batch1.unionByName(batch2)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(sum(col("x")).as("sx"))
    val state = Merge.foldAdditive(Merge.foldAdditive(agg(raw).limit(0),
      agg(batch1), Seq("k")), agg(batch2), Seq("k"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), Option(r.get(1)))).sortBy(_._1).toSeq
    assert(rows(state) == rows(agg(raw)))
    assert(rows(state) == Seq("a" -> Some(1L), "b" -> None))
  }

  test("profile: one pass yields per-column null/distinct/min/max (typed surface)") {
    val df = Seq(
      (Some(1L), Some("x")), (Some(2L), None), (Some(2L), Some("y")),
      (None, Some("x"))
    ).toDF("num", "s")
    val got = Profile.profile(df, Seq("num", "s")).collect()
      .map { r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]),
          Option(r.get(6)).map(_.asInstanceOf[String]),
          Option(r.get(7)).map(_.asInstanceOf[String])))
      }.toMap
    // numeric col: min/max as centi-units, string pair null
    assert(got("num") ==
      ((3L, 1L, 2L, Some(100L), Some(200L), None, None)))
    // string col: min/max in the _str pair, numeric pair null
    assert(got("s") == ((3L, 1L, 2L, None, None, Some("x"), Some("y"))))
  }

  test("profile: decimal centi-units are exact (no rendering on the hashed surface)") {
    val df = Seq("1013.70", "499978.59", "2500.00")
      .toDF("raw")
      .select(col("raw").cast("decimal(18,2)").as("price"))
    val r = Profile.profile(df, Seq("price")).collect().head
    assert(r.getLong(4) == 101370L && r.getLong(5) == 49997859L)
    assert(r.isNullAt(6) && r.isNullAt(7))
  }

  test("partialProfile fold equals the one-shot profile; all-null batches bounds-neutral") {
    val b1 = Seq((Some(1L), Some("x")), (Some(5L), None)).toDF("num", "s")
    val b2 = Seq((Some(3L), Some("a")), (None, Some("z"))).toDF("num", "s")
    val b3 = Seq[(Option[Long], Option[String])]((None, None), (None, None))
      .toDF("num", "s") // all-null batch
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("col_name", "n", "n_nulls", "min_c100", "max_c100", "min_str", "max_str")
      .orderBy("col_name").collect().map(_.toSeq).toSeq
    val folded = Profile.mergeProfiles(
      Seq(b1, b2, b3).map(b => Profile.partialProfile(b, Seq("num", "s"))))
    val oneShot = Profile
      .profile(b1.unionByName(b2).unionByName(b3), Seq("num", "s"))
      .drop("n_distinct")
    assert(rows(folded) == rows(oneShot))
    // the fold is associative: ((p1+p2)+p3) == (p1+(p2+p3))
    val ps = Seq(b1, b2, b3).map(b => Profile.partialProfile(b, Seq("num", "s")))
    assert(rows(Profile.mergeProfiles(
        Seq(Profile.mergeProfiles(ps.take(2)), ps(2)))) ==
      rows(Profile.mergeProfiles(Seq(ps(0), Profile.mergeProfiles(ps.drop(1))))))
  }

  test("decontaminate probes eval grams via a broadcast semi-join (no corpus shuffle)") {
    val train = (1L to 200L).map(i => (i, s"tok$i a b c d e")).toDF("doc_id", "text")
    val eval = Seq((900L, "a b c")).toDF("doc_id", "text")
    val plan = Dedup.decontaminate(train, eval, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected broadcast left-semi gram probe:\n$plan")
  }

  test("upsertLatest plan shuffles once, on the key") {
    val base = (1L to 100L).map(i => (i, i, s"p$i")).toDF("k", "v", "payload")
    val updates = Seq((1L, 200L, "u")).toDF("k", "v", "payload")
    val plan = Merge.upsertLatest(base, updates, Seq("k"), "v")
      .queryExecution.executedPlan.toString
    // union is shuffle-free; the window's hashpartitioning(k) must be the
    // plan's ONLY exchange
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1 && plan.contains("hashpartitioning(k"),
      s"expected exactly one key-partitioned exchange:\n$plan")
  }

  test("zOrder2 interleaves bits; z-order layout prunes 2-d boxes a 1-d sort can't") {
    // pinned values: interleave(3=0b011, 5=0b101) = 0b100111 = 39
    val pinned = Seq((3L, 5L)).toDF("a", "b")
      .select(Layout.zOrder2(col("a"), col("b")).as("z")).head().getLong(0)
    assert(pinned == 39L)

    // 128×128 grid, one row per cell, written as 16 files of 1024 rows:
    // linear layout sorts by x alone; z layout clusters both dimensions
    val grid = spark.range(16384).select(
      (col("id") % 128).as("x"), expr("id div 128").as("y"))
    val linDir = tmpDir("graft_zorder_lin")
    val zDir = tmpDir("graft_zorder_z")
    grid.orderBy(col("x")).write.mode("overwrite")
      .option("maxRecordsPerFile", 1024L).parquet(linDir)
    val zTable = Layout.zOrderWrite(grid, "x", "y", zDir, maxRecordsPerFile = 1024L)
    assert(zTable.count() == 16384L)
    // z column rides along and is the write order
    assert(zTable.columns.contains("z"))

    // per-file min/max stats — exactly what parquet footer pruning sees
    def fileRanges(dir: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(dir)
        .select(col("x"), col("y"), input_file_name().as("f"))
        .groupBy("f")
        .agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
        .collect()
        .map(r => (r.getAs[Long]("x0"), r.getAs[Long]("x1"),
          r.getAs[Long]("y0"), r.getAs[Long]("y1")))
    def touching(rs: Array[(Long, Long, Long, Long)],
        bx: (Long, Long), by: (Long, Long)): Int =
      rs.count { case (x0, x1, y0, y1) =>
        x1 >= bx._1 && x0 <= bx._2 && y1 >= by._1 && y0 <= by._2 }

    val lin = fileRanges(linDir)
    val zs = fileRanges(zDir)
    assert(lin.length == 16 && zs.length == 16)
    // 32×32 corner box = 1/16 of the data: the z layout isolates it into
    // fewer files than the x-sorted layout (which reads every file whose
    // x-range overlaps, each spanning all of y)
    val boxLin = touching(lin, (0L, 31L), (0L, 31L))
    val boxZ = touching(zs, (0L, 31L), (0L, 31L))
    assert(boxZ < boxLin, s"z=$boxZ lin=$boxLin")
    // y-only band: invisible to the x sort (all 16 files touched), still
    // pruned by the z layout
    val bandLin = touching(lin, (0L, 127L), (0L, 31L))
    val bandZ = touching(zs, (0L, 127L), (0L, 31L))
    assert(bandLin == 16)
    assert(bandZ < bandLin, s"z=$bandZ lin=$bandLin")
  }

  test("diffSnapshots classifies insert/update/delete; unchanged and null-equal rows drop") {
    val before = Seq(
      (1L, 10L, "a"),                         // unchanged
      (2L, 20L, "b"),                         // value change -> update
      (3L, 30L, null.asInstanceOf[String]),   // null -> null unchanged
      (4L, 40L, "d")                          // deleted
    ).toDF("k", "v", "p")
    val after = Seq(
      (1L, 10L, "a"),
      (2L, 21L, "b"),
      (3L, 30L, null.asInstanceOf[String]),
      (5L, 50L, "e")                          // inserted
    ).toDF("k", "v", "p")
    val got = Merge.diffSnapshots(before, after, Seq("k"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change_type"))
      .toMap
    assert(got == Map(2L -> "update", 4L -> "delete", 5L -> "insert"))
    val upd = Merge.diffSnapshots(before, after, Seq("k"))
      .filter($"k" === 2L).collect().head
    assert(upd.getAs[Long]("v_before") == 20L && upd.getAs[Long]("v_after") == 21L)
    // null -> value IS a change (null-safe comparison, not SQL-null dodge)
    val nullFlip = Merge.diffSnapshots(
      Seq((3L, 30L, null.asInstanceOf[String])).toDF("k", "v", "p"),
      Seq((3L, 30L, "now-set")).toDF("k", "v", "p"), Seq("k"))
      .collect().map(_.getAs[String]("change_type")).toSeq
    assert(nullFlip == Seq("update"))
    // schema-mismatch fails fast, not silently
    intercept[IllegalArgumentException] {
      Merge.diffSnapshots(before, after.drop("p"), Seq("k"))
    }
    // keys-only tables: no value columns to compare, so the feed is
    // purely membership (insert/delete), never a spurious update
    val ko = Merge.diffSnapshots(
      Seq(Tuple1(1L), Tuple1(2L)).toDF("k"),
      Seq(Tuple1(2L), Tuple1(3L)).toDF("k"), Seq("k"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change_type"))
      .toMap
    assert(ko == Map(1L -> "delete", 3L -> "insert"))
  }

  test("lmCoverage: trusted-source bigram model scores occurrence coverage") {
    // trusted (src0) text yields LM = {"a b", "b a"}; coverage is then
    // hand-computable per doc, including the bigram-less single-token doc
    val dir = tmpDir("graft_lmcov")
    Seq(
      (1L, "a b a b a", "en", "src0", 9L),
      (2L, "a b c", "en", "src7", 5L),
      (3L, "c d e", "en", "src9", 5L),
      (4L, "x", "en", "src8", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Queries.lmCoverage(spark, dir).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getBoolean(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Seq(
      // doc 1: 4/4 covered; doc 2: "a b" hit, "b c" miss -> 500 pm, keep
      // at exactly 50%; doc 3: 0/2; doc 4: no bigrams -> NULL pm, drop
      (1L, 1000L, true, 4L, 4L),
      (2L, 500L, true, 2L, 1L),
      (3L, 0L, false, 2L, 0L),
      (4L, -1L, false, 0L, 0L)))
  }

  test("lengthBuckets: integer padding-waste report, bucket edges, no window") {
    import spark.implicits._
    // widths 1..5 tokens, bucket width 3: bucket 0 = {1,2}, bucket 1 = {3,4,5}
    val docs = Seq.tabulate(5)(i => (i.toLong, Seq.fill(i + 1)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Layout.lengthBuckets(docs, "text", bucketWidth = 3)
      .orderBy("bucket")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      // bucket, min_tokens, n_docs, max_tokens, sum_tokens, padded, waste_ppm
      (0L, 0L, 2L, 2L, 3L, 4L, 250000L),
      (1L, 3L, 3L, 5L, 12L, 15L, 200000L)))
    // one hash aggregation, no window/join in the plan
    val plan = Layout.lengthBuckets(docs, "text", bucketWidth = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
  }

  test("bigramPerplexity: micro-nat terms match the formula; keep cut is integer; OOV penalized") {
    // trusted slice: docs 1 and 2. Vocabulary {a,b,c}: V=3.
    // trusted unigrams: a=3 (doc1: a,b,a; doc2: a,c), wait — count below.
    val docs = Seq(
      (1L, "a b a b", true),   // trusted: tokens a,b,a,b; bigrams ab,ba,ab
      (2L, "a c", true),       // trusted: tokens a,c; bigram ac
      (3L, "a b z", false),    // scored only: bigrams ab, bz (bz OOV, z OOV)
      (4L, "q", false)         // no bigrams at all
    ).toDF("doc_id", "text", "tr")
    // trusted counts: a: 3 (2 in doc1 + 1 in doc2), b: 2, c: 1 → V = 3
    // trusted bigrams: "a b": 2, "b a": 1, "a c": 1 (all within top-512)
    def nllU(c1: Long, cnt: Long): Long =
      math.round(math.log((c1 + 3).toDouble / (cnt + 1).toDouble) * 1e6)
    val expected3 = nllU(3, 2) + nllU(2, 0) // "a b" in model; "b z" OOV-bigram, w1=b
    val out = LmScore.bigramPerplexity(docs, "text", "doc_id",
        trusted = col("tr"), topK = 512, keepMaxMicroNll = 700000L)
      .select("doc_id", "n_bigrams", "nll_micro", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map { case (k, n, s, kp) => k -> ((n, s, kp)) }.toMap
    assert(out(3L) == ((2L, expected3, false)))
    // doc1: bigrams ab(c1=3,cnt=2), ba(c1=2,cnt=1), ab → avg ≈ 0.60 nats
    val s1 = 2 * nllU(3, 2) + nllU(2, 1)
    assert(out(1L) == ((3L, s1, s1 <= 3L * 700000L)))
    assert(out(4L) == ((0L, 0L, false))) // bigram-less doc: never kept
    // partitioning must not move a single micro-nat (integer exactness)
    val re = LmScore.bigramPerplexity(docs.repartition(5), "text", "doc_id",
        trusted = col("tr"), topK = 512, keepMaxMicroNll = 700000L)
      .select("doc_id", "nll_micro").as[(Long, Long)].collect().toMap
    assert(re == out.map { case (k, v) => k -> v._2 })
    // model probes broadcast; no corpus-sized join shuffle
    val plan = LmScore.bigramPerplexity(docs, "text", "doc_id",
        trusted = col("tr"), topK = 512, keepMaxMicroNll = 700000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("Vocab: min-count prune, dense deterministic ids, OOV->0, position-ordered encode") {
    val docs = Seq(
      (1L, "a b a c a b"),   // a=3, b=2, c=1
      (2L, "b z"),           // b=1 more (b=3 total), z=1
      (3L, "")               // empty text → one empty-string token
    ).toDF("doc_id", "text")
    val vocab = graft.operators.Vocab.build(docs, "text", minCount = 2L)
    val v = vocab.select("tok", "cnt", "id")
      .as[(String, Long, Long)].collect().toSet
    // counts: a=3, b=3, "":1, c=1, z=1 → pruned to {a,b}; ties (3,3)
    // break token-ascending: a→1, b→2
    assert(v == Set(("a", 3L, 1L), ("b", 3L, 2L)))
    val enc = graft.operators.Vocab.encode(docs, "text", "doc_id", vocab)
      .select("doc_id", "n_tokens", "n_unk", "ids_csv")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(enc(1L) == ((6L, 1L, "1,2,1,0,1,2"))) // c is OOV
    assert(enc(2L) == ((2L, 1L, "2,0")))
    assert(enc(3L) == ((1L, 1L, "0")))
    // arrival order must be invisible (position-keyed re-assembly)
    val re = graft.operators.Vocab
      .encode(docs.repartition(5), "text", "doc_id", vocab)
      .select("doc_id", "ids_csv").as[(Long, String)].collect().toMap
    assert(re == enc.map { case (k, v) => k -> v._3 })
    // vocabulary probes broadcast — no corpus-sized join shuffle
    val plan = graft.operators.Vocab.encode(docs, "text", "doc_id", vocab)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      plan)
    // ONE ROW PER INPUT DOC: a zero-token (null-text) document emits
    // (0, 0, '') instead of silently dropping out of the encode stage
    val withNull = docs.unionByName(
      Seq((4L, Option.empty[String])).toDF("doc_id", "text"))
    val enc2 = graft.operators.Vocab
      .encode(withNull, "text", "doc_id", vocab)
      .select("doc_id", "n_tokens", "n_unk", "ids_csv")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(enc2.keySet == Set(1L, 2L, 3L, 4L))
    assert(enc2(4L) == ((0L, 0L, "")))
    assert(enc2(1L) == enc(1L)) // populated docs unchanged
  }

  test("spanCorrupt: denoising pairs reconstruct the document; flags deterministic; spans are runs") {
    import graft.operators.Examples
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val out = Examples.spanCorrupt(docs, "text", "doc_id",
        maskPerCent = 15, salt = "t")
      .join(docs, Seq("doc_id"))
      .select("doc_id", "n_tokens", "n_masked", "n_spans",
        "input_text", "target_text", "text")
      .collect()
    assert(out.length == docs.count())
    var masked = 0L; var total = 0L
    out.foreach { r =>
      val (n, m, sp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (inp, tgt) = (r.getString(4), r.getString(5))
      val norm = r.getString(6).toLowerCase.trim.split("\\s+").mkString(" ")
      masked += m; total += n
      assert(sp <= m && m <= n) // spans are maximal runs of flags
      // every sentinel appears exactly once in input, in order, and the
      // target's k-th span substitutes back to reconstruct the document
      val spans = tgt.split("<extra_id_\\d+>").map(_.trim).drop(1)
      assert(spans.length == sp, s"doc ${r.getLong(0)}: $tgt")
      var rebuilt = inp
      for (k <- spans.indices)
        rebuilt = rebuilt.replace(s"<extra_id_$k>", spans(k))
      assert(rebuilt == norm, s"doc ${r.getLong(0)}")
    }
    // global mask rate near 15% (hash-uniform; wide tolerance)
    assert(masked * 100 >= total * 11 && masked * 100 <= total * 19,
      s"$masked/$total")
    // partitioning must not move a single flag
    val re = Examples.spanCorrupt(docs.repartition(7), "text", "doc_id",
        maskPerCent = 15, salt = "t")
      .select("doc_id", "input_text").as[(Long, String)].collect().toMap
    assert(out.forall(r => re(r.getLong(0)) == r.getString(4)))
    // a different salt draws different spans
    val other = Examples.spanCorrupt(docs, "text", "doc_id",
        maskPerCent = 15, salt = "u")
      .select("doc_id", "input_text").as[(Long, String)].collect().toMap
    assert(out.exists(r => other(r.getLong(0)) != r.getString(4)))
    // ONE ROW PER INPUT DOC: a zero-token (null-text) document emits
    // (0, 0, 0, '', '') instead of silently dropping
    val withNull = docs.limit(3).unionByName(
      Seq((-1L, Option.empty[String])).toDF("doc_id", "text"))
    val nulled = Examples.spanCorrupt(withNull, "text", "doc_id",
        maskPerCent = 15, salt = "t")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5)))).toMap
    assert(nulled.size == 4)
    assert(nulled(-1L) == ((0L, 0L, 0L, "", "")))
  }

  test("epochShuffle: per-epoch permutation, cross-epoch decorrelation, two-pass offsets hold under repartition") {
    val docs = (1L to 97L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Layout.epochShuffle(docs, "doc_id", epochs = 3,
        batchSize = 10, salt = "t")
      .select("epoch", "doc_id", "pos", "batch")
      .as[(Long, Long, Long, Long)].collect().toSeq
    try {
      assert(out.size == 3 * 97)
      // each epoch's positions are exactly 0..96 (a permutation)
      for (e <- 0L to 2L) {
        val ps = out.filter(_._1 == e).map(_._3).sorted
        assert(ps == (0L until 97L), s"epoch $e positions")
      }
      // batch = pos div batchSize everywhere
      assert(out.forall { case (_, _, p, b) => b == p / 10 })
      // epochs genuinely differ (the epoch is in the hash preimage)
      val ord0 = out.filter(_._1 == 0L).sortBy(_._3).map(_._2)
      val ord1 = out.filter(_._1 == 1L).sortBy(_._3).map(_._2)
      assert(ord0 != ord1)
      // reference: the single-window form over the same hash
      val h = TextFunctions.stableHash60(concat(col("doc_id").cast("string"),
        lit(":t:"), col("epoch").cast("string")))
      val ref = docs.select(col("doc_id"))
        .withColumn("epoch", explode(sequence(lit(0L), lit(2L))))
        .withColumn("__h", h)
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("epoch")
            .orderBy(col("__h"), col("doc_id"))).cast("long") - 1L)
        .select("epoch", "doc_id", "pos")
        .as[(Long, Long, Long)].collect().toSet
      assert(out.map(t => (t._1, t._2, t._3)).toSet == ref)
      // partitioning must not move a single position
      val re = Layout.epochShuffle(docs.repartition(7), "doc_id",
          epochs = 3, batchSize = 10, salt = "t")
        .select("epoch", "doc_id", "pos")
        .as[(Long, Long, Long)].collect().toSet
      assert(re == ref)
    } finally graft.util.OperatorCaches.release(spark)
  }
}
