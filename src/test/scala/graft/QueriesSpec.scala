package graft

/** Smoke: every declared query runs at sf0.001 and yields a sane frame.
  * (Value-level correctness is the driver's DuckDB gate plus the per-operator
  * suites; this catches schema drift / plan-time regressions early.)
  */
class QueriesSpec extends SparkSpec {

  // Queries whose result may legitimately be empty at the smallest SF.
  private val mayBeEmpty = Set("q20_lsh_candidate_pairs", "q24_embedding_near_dups",
    "q21_jaccard_pairs")

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val unknown = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(unknown.isEmpty, s"oracleSql without a query impl: $unknown")
  }

  test("every query is oracle-checked — no rows-only queries remain") {
    // Round 6 closed the last rows-only cell (q27 now dumps its in-query
    // certification vs brute force); any new query must register DuckDB
    // SQL in Oracles.all or re-introduce a declared set with a documented
    // reason.
    val unchecked = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(unchecked.isEmpty, s"queries without an oracle: $unchecked")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf0001)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
      assert(df.columns.nonEmpty)
    }
  }

  test("q39: merged daily HLL sketches track exact distinct counts (<2% err)") {
    // sketchEstimates is the production single-scan frame — it exposes the
    // raw estimate, so the tight error bound is asserted here.
    val approx = Queries.sketchEstimates(spark, sf0001).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("approx_users"), r.getAs[Long]("n_events"))).toMap
    val exact = Queries.distinctUsers(spark, sf0001).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("n_events"))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (nUsers, nEvents)) =>
      val (aUsers, aEvents) = approx(k)
      assert(aEvents == nEvents) // counts are exact either way
      assert(math.abs(aUsers - nUsers).toDouble / nUsers < 0.02,
        s"$k: sketch $aUsers vs exact $nUsers")
    }
  }

  test("q112: funnel stages need STRICT in-order progression per user") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val dir = tmpDir("graft_funnel")
    Seq(
      // user 1: full in-order funnel
      (1L, 1L, "view", ts(1)), (2L, 1L, "click", ts(2)),
      (3L, 1L, "purchase", ts(3)),
      // user 2: purchase BEFORE click — stuck at stage 2
      (4L, 2L, "view", ts(1)), (5L, 2L, "purchase", ts(2)),
      (6L, 2L, "click", ts(3)),
      // user 3: click at the SAME instant as view — strict > rejects it
      (7L, 3L, "view", ts(5)), (8L, 3L, "click", ts(5)),
      // user 4: never viewed — stage 0 despite click+purchase
      (9L, 4L, "click", ts(1)), (10L, 4L, "purchase", ts(2)),
      // user 5: second view chain converts even though the FIRST view's
      // click never came (min view anchors; later clicks still count)
      (11L, 5L, "view", ts(1)), (12L, 5L, "view", ts(4)),
      (13L, 5L, "click", ts(6)), (14L, 5L, "purchase", ts(7))
    ).toDF("event_id", "user_id", "event_type", "ts")
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Queries.funnel(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 0L, 5L -> 3L))
  }

  test("q114: integer-cent variance matches the naive double computation") {
    import spark.implicits._
    import java.sql.Timestamp
    val dir = tmpDir("graft_ab")
    // variant 0: users 0/2; variant 1: user 1. Values exercise the
    // 2-dp cast trap (490.02 * 100 = 49001.999… as a double)
    val vals0 = Seq(490.02, 0.01, 10.50, 3.33)
    val vals1 = Seq(1.00, 2.00)
    val rows = vals0.zipWithIndex.map { case (v, i) =>
      (i.toLong, (i % 2 * 2).toLong, "view", Timestamp.valueOf("2024-01-01 10:00:00"), v, "{}")
    } ++ vals1.zipWithIndex.map { case (v, i) =>
      ((10 + i).toLong, 1L, "view", Timestamp.valueOf("2024-01-01 10:00:00"), v, "{}")
    }
    rows.toDF("event_id", "user_id", "event_type", "ts", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Queries.abStats(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    def naive(xs: Seq[Double]) = {
      val n = xs.size
      val m = xs.sum / n
      (n.toLong, m, xs.map(x => (x - m) * (x - m)).sum / (n - 1))
    }
    val (n0, m0, v0) = naive(vals0)
    assert(got(0L)._1 == n0)
    assert(math.abs(got(0L)._2 - m0) < 5e-7)
    assert(math.abs(got(0L)._3 - v0) < 1e-4, s"${got(0L)._3} vs $v0")
    val (n1, m1, v1) = naive(vals1)
    assert(got(1L) == ((n1, m1, v1)))
  }

  test("q115: a spike after a constant trailing hour flags; steady state never does") {
    import spark.implicits._
    import java.sql.Timestamp
    val dir = tmpDir("graft_anom")
    // 40 minutes at exactly 2 events/min, then minute 41 spikes to 50:
    // zero trailing variance makes ANY deviation anomalous (strict >),
    // while every steady minute compares 0 > 0 and stays quiet
    val rows = (1 to 40).flatMap { m =>
      Seq.tabulate(2)(i => ((m * 10 + i).toLong, 7L, "view",
        Timestamp.valueOf(f"2024-01-01 10:$m%02d:00"), 1.0, "{}"))
    } ++ Seq.tabulate(50)(i => ((900 + i).toLong, 7L, "view",
      Timestamp.valueOf("2024-01-01 10:41:00"), 1.0, "{}"))
    rows.toDF("event_id", "user_id", "event_type", "ts", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Queries.anomalyFlags(spark, dir).collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2), r.getBoolean(4)))
    val flagged = got.filter(_._3)
    assert(flagged.map(_._2).toSeq == Seq(50L), s"flags: ${flagged.toSeq}")
    // the first 30 minutes can't flag (trailing window below 30)
    assert(got.count(_._3) == 1)
  }

  test("q27: certification dump — one row per query, every bound TRUE") {
    val rows = Queries.annLshCertified(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("query_id")).toSeq == (0L until 10L))
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      assert(r.getAs[Long]("n_returned") == 5L, s"q$q: top-k under-filled")
      assert(r.getAs[Boolean]("found_exact_neighbor"), s"q$q: zero recall")
      assert(r.getAs[Boolean]("cosine_exact_ok"), s"q$q: cosine re-derivation drift")
      assert(r.getAs[Boolean]("within_exact_bounds"), s"q$q: cosine above true max")
      assert(r.getAs[Boolean]("corpus_recall_at_5_ok"), s"q$q: corpus recall under 0.5")
    }
  }

  test("q39: certified gate dump matches exact counts and the 5% bound holds") {
    val rows = Queries.sketchProfile(spark, sf0001).collect()
    val exact = Queries.distinctUsers(spark, sf0001).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("n_events"))).toMap
    assert(rows.map(_.getAs[String]("event_type")).toSet == exact.keySet)
    rows.foreach { r =>
      val k = r.getAs[String]("event_type")
      assert(r.getAs[Boolean]("estimate_within_5pct"), s"$k: bound violated")
      assert(r.getAs[Long]("n_users_exact") == exact(k)._1)
      assert(r.getAs[Long]("n_events") == exact(k)._2)
    }
  }

  test("q173 deletes its WARC scratch dir once the result is materialized") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def warcDirs: Set[String] =
      Option(tmp.list()).toSeq.flatten.filter(_.startsWith("graft_warc")).toSet
    val before = warcDirs
    assert(Queries.warcHttpGate(spark, sf0001).count() > 0)
    val leaked = warcDirs.diff(before)
    assert(leaked.isEmpty, s"q173 left scratch dirs behind: $leaked")
  }

  test("Queries.scala creates temp dirs and drops catalog tables only inside scratch") {
    val src = scala.io.Source.fromFile("src/main/scala/graft/Queries.scala", "UTF-8")
    val text = try src.mkString finally src.close()
    val start = text.indexOf("def scratch[")
    assert(start >= 0, "the scratch helper is gone")
    val end = text.indexOf("\n  }\n", start)
    def outside(needle: String): Seq[Int] =
      needle.r.findAllMatchIn(text).map(_.start).filter(i => i < start || i > end).toSeq
    assert("createTempDirectory".r.findAllMatchIn(text).size == 1)
    assert(outside("createTempDirectory").isEmpty)
    assert(outside("DROP TABLE").isEmpty,
      "drop generation handles through scratch / SegmentStore.dropTables")
  }
}
