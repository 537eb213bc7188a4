package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "a"),
    (2L, "THE  quick brown fox jumps over the lazy dog", "a"), // exact dup after normalize
    (3L, "the quick brown fox jumps over the lazy cat", "a"),  // near dup
    (4L, "completely different content about spark engines", "a"),
    (5L, "unrelated short text", "b")
  ).toDF("doc_id", "text", "src")

  test("exact dedup: normalized duplicates collapse to smallest id") {
    val got = Dedup.exact(docs, "text", "doc_id")
    val groups = got.collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("dup_count"))).toSet
    assert(got.count() == 4) // 1+2 merged
    assert(groups.contains((1L, 2L)))
  }

  test("exact dedup and full corpus dedup tolerate null-text documents") {
    val withNulls = docs.unionByName(
      Seq((6L, Option.empty[String], "a"), (7L, Option.empty[String], "b"))
        .toDF("doc_id", "text", "src"))
    val groups = Dedup.exact(withNulls, "text", "doc_id").collect()
      .map(r => Option(r.getAs[String]("fp")) ->
        (r.getAs[Long]("keep_id"), r.getAs[Long]("dup_count"))).toMap
    assert(groups(None) == ((6L, 2L))) // null texts form ONE group, min id kept
    val survivors = Dedup.dedupeCorpus(withNulls, "text", "doc_id",
      threshold = 0.7, k = 8, bands = 4, ngram = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors.contains(6L) && !survivors.contains(7L)) // null group deduped
    assert(survivors.contains(4L) && survivors.contains(5L))
  }

  test("minhash: identical docs get identical signatures; near-dups mostly agree") {
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", k = 8, ngram = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until 8).map(i => r.getAs[Long](s"mh$i")))
      .toMap
    assert(sigs(1L) == sigs(2L))
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    val agree14 = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(agree13 > agree14) // near-dup agrees on more minhashes than unrelated
  }

  test("LSH candidates contain the exact-duplicate pair") {
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", k = 8, ngram = 2)
    val pairs = Dedup.lshCandidates(sigs, "doc_id", bands = 4).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a >= b }) // ordered pairs only
  }

  test("simhash: identical docs equal, hamming to unrelated > 0") {
    val sh = Dedup.simhash(docs, "text", "doc_id", bits = 16).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(1L) == sh(2L))
    val df = Seq((sh(1L), sh(3L), sh(4L))).toDF("a", "b", "c")
    val (h13, h14) = df.select(
      Dedup.hamming(col("a"), col("b")).as("x"),
      Dedup.hamming(col("a"), col("c")).as("y"))
      .as[(Int, Int)].head()
    assert(h13 < h14) // near-dup closer in hamming space than unrelated
  }

  test("unigram jaccard: dup pair scores 1.0, blocked join respects blocks") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "src", n = 1).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => b == 5L || a == 5L }) // 'b' block isolated
  }

  test("dedupeCorpus drops exact + near duplicates, keeps smallest ids") {
    val survivors = Dedup.dedupeCorpus(docs, "text", "doc_id", threshold = 0.7,
      k = 8, bands = 4, ngram = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!survivors.contains(2L)) // exact dup of 1
    assert(!survivors.contains(3L)) // near dup of 1 (one word differs)
    assert(survivors.contains(1L) && survivors.contains(4L) && survivors.contains(5L))
  }

  test("semanticDedup: smaller-id cell-mate kills, cross-cell near-dup survives") {
    // 2-d space, one axis-aligned plane on dim 0 → 2 cells (sign of x)
    val planes = Seq(Seq(1.0, 0.0))
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),    // cell 1
      (2L, Seq(1.0f, 0.001f)),  // cell 1, ~identical to 1 → dropped
      (3L, Seq(0.0f, 1.0f)),    // cell 1 (0 >= 0), orthogonal → survives
      (4L, Seq(-1.0f, 0.01f)),  // cell 0 — near-mirror of 1 but other cell
      (5L, Seq(-1.0f, 0.0f))    // cell 0, ~identical to 4 → dropped
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "embedding", "vec_id", planes, 0.9)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"))).toMap
    assert(out == Map(1L -> 1L, 3L -> 1L, 4L -> 0L))
    // domination is chain-free: dropped vectors still kill their own dups
    // (2 is dropped by 1 yet 5 is dropped by 4, not rescued)
    assert(!out.contains(5L))
    // plan discipline: per-cell equi-join, never a cross product
    val plan = Dedup.semanticDedup(vecs, "embedding", "vec_id", planes, 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("stripDupSpansIncrementalStaged: batch 0 is the one-shot strip; a replay strips everything") {
    val store = tmpDir("gram_strip_store")
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h x y"),
      (3L, "p q r")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sortBy(_._1).toSeq
    val oneShot = rows(Dedup.stripDupSpans(docs, "text", "doc_id", 8))
    val b0 = rows(Dedup.stripDupSpansIncrementalStaged(
      docs, store, "text", "doc_id", 8).localCheckpoint(true))
    assert(b0 == oneShot)
    // the shared 8-gram "a..h" covers tokens 1-8 of docs 1 and 2; doc 3
    // is too short to gram and survives intact
    assert(b0.find(_._1 == 1L).get._4 == "i j")
    assert(b0.find(_._1 == 3L).get._4 == "p q r")
    // exact replay: every gram is in the store now — all covered tokens
    // strip; short docs still have nothing to strip
    val b1 = rows(Dedup.stripDupSpansIncrementalStaged(
      docs.select((col("doc_id") + 100).as("doc_id"), col("text")),
      store, "text", "doc_id", 8).localCheckpoint(true))
    assert(b1.map(_._1) == Seq(101L, 102L, 103L))
    assert(b1.filter(_._1 != 103L).forall(r => r._3 == 0L && r._4 == ""))
    assert(b1.find(_._1 == 103L).get._4 == "p q r")
  }

  test("semanticDedup: NaN/Inf vectors form no near-dup edge in either direction") {
    val planes = Seq(Seq(1.0, 0.0))
    // Spark orders NaN above every double, so an unguarded
    // `cosine >= threshold` is TRUE against a poisoned vector: the
    // small-id Inf vector would drop every cell-mate, and the NaN
    // vector would itself be dropped by any smaller id. Both must
    // instead pass through untouched.
    val vecs = Seq(
      (0L, Seq(Float.PositiveInfinity, 0.0f)), // smallest id in cell 1
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.001f)),                 // true near-dup of 1 → dropped
      (9L, Seq(Float.NaN, 0.0f))               // NaN, larger id than 0 and 1
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "embedding", "vec_id", planes, 0.9)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(out == Set(0L, 1L, 9L))
  }

  test("semanticDecontaminate: max/hit fold, NaN guard, empty eval set") {
    val eval = Seq(
      (100L, Seq(1.0f, 0.0f)),
      (101L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(2.0f, 0.0f)),       // cos 1.0 to eval 100, 0.0 to 101
      (2L, Seq(1.0f, 1.0f)),       // cos ~0.707107 to both
      (3L, Seq(-1.0f, 0.0f)),      // cos -1 and 0 → max 0.0, no hit
      (4L, Seq(Float.NaN, 1.0f))   // poisoned → NULL max, no hit
    ).toDF("vec_id", "embedding")
    val got = Dedup
      .semanticDecontaminate(corpus, eval, "vec_id", "embedding", 0.7)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getDouble(1),
        r.getLong(2), r.getBoolean(3)))
      .toSeq
    assert(got == Seq(
      (1L, 1.0, 1L, true),
      (2L, 0.707107, 2L, true),
      (3L, 0.0, 0L, false),
      (4L, null, 0L, false)))
    // a poisoned EVAL vector must not contaminate anyone either
    val evalNaN = Seq((200L, Seq(Float.NaN, 0.0f))).toDF("vec_id", "embedding")
    val gotNaN = Dedup
      .semanticDecontaminate(corpus.filter($"vec_id" === 1L), evalNaN,
        "vec_id", "embedding", 0.7)
      .collect().map(r => (r.isNullAt(1), r.getLong(2))).toSeq
    assert(gotNaN == Seq((true, 0L)))
    // empty eval: nothing to be similar to — NULL max, zero hits
    val gotEmpty = Dedup
      .semanticDecontaminate(corpus, eval.limit(0), "vec_id", "embedding", 0.7)
      .collect().map(r => (r.isNullAt(1), r.getLong(2), r.getBoolean(3)))
    assert(gotEmpty.forall(_ == ((true, 0L, false))))
  }

  test("simhashNearDups equals brute-force Hamming scan; banding is an equi-join") {
    // corpus with a planted near-dup pair (one bigram changed), an exact
    // dup pair, and unrelated docs
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),
      (2L, base),                                            // exact dup
      (3L, base.replace("delta epsilon", "delta QQQ")),      // near
      (4L, "one two three four five six seven eight nine"),
      (5L, "red green blue cyan magenta yellow black white"),
      (6L, "sun moon star comet nebula quasar pulsar nova")
    ).toDF("doc_id", "text")
    val got = Dedup.simhashNearDups(docs, "text", "doc_id",
        bits = 60, bands = 4, maxHamming = 3, ngram = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the same fingerprints, recomputed independently
    val sh = docs
      .select($"doc_id", explode(array_distinct(
        graft.functions.TextFunctions.wordNgrams($"text", 2))).as("tok"))
      .withColumn("h", graft.functions.TextFunctions.stableHash60($"tok"))
      .select($"doc_id", $"h",
        explode(sequence(lit(0), lit(59))).as("bit"))
      .withColumn("vote",
        when(expr("shiftright(h, cast(bit as int))") % 2 === 1, 1).otherwise(-1))
      .groupBy($"doc_id", $"bit").agg(sum($"vote").as("votes"))
      .groupBy($"doc_id")
      .agg(sum(when($"votes" >= 0,
        expr("shiftleft(1L, cast(bit as int))")).otherwise(0L)).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- sh.keys; b <- sh.keys if a < b
      hd = java.lang.Long.bitCount(sh(a) ^ sh(b)) if hd <= 3
    } yield (a, b, hd.toLong)).toSet
    assert(got == want)
    // identical feature sets → identical fingerprints → distance 0
    // (doc 3's single changed token swaps 2 of only ~9 bigram features —
    // enough to flip many of 60 vote sums, so it is NOT radius-3-near:
    // simhash radius encodes feature-set cosine, and with few features
    // one edit moves the cosine a lot; the brute-force equality above is
    // the operator's actual contract)
    assert(got.contains((1L, 2L, 0L)), s"exact dup pair missing: $got")
    // candidate generation is a band equi-join, never all-pairs
    val plan = Dedup.simhashNearDups(docs, "text", "doc_id", 60, 4, 3, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // illegal radius/band combos are rejected
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(docs, "text", "doc_id", 60, 4, 4, 2)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(docs, "text", "doc_id", 60, 7, 3, 2)
    }
  }

  test("crossSourceLeakage: only straddling near-dups count; pair normalized") {
    val docs = Seq(
      // 1/2: near-identical ACROSS srcA/srcB → the leak
      (1L, "p q r s t u v w", "srcB"),
      (2L, "p q r s t u v x", "srcA"),
      // 3/4: identical WITHIN srcC → must not appear
      (3L, "k l m n o k l m", "srcC"),
      (4L, "k l m n o k l m", "srcC"),
      // 5: unrelated
      (5L, "z1 z2 z3 z4 z5 z6", "srcD")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceLeakage(docs, "text", "doc_id", "source",
        n = 2, maxDf = 50, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
      .toSeq
    // docs 1/2: 7 distinct bigrams each, 6 shared → jaccard 6/8 = 0.75;
    // source pair normalized to (srcA, srcB) though id 1 carries srcB
    assert(got == Seq(("srcA", "srcB", 1L, 0.75)))
    // threshold above the pair's jaccard empties the report
    assert(Dedup.crossSourceLeakage(docs, "text", "doc_id", "source",
      2, 50, 0.8).count() == 0)
    // candidate generation stays an equi-join on the gram key
    val plan = Dedup.crossSourceLeakage(docs, "text", "doc_id", "source",
      2, 50, 0.5).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("jaccard maxDf: hot grams excluded from candidate gen, scores stay exact") {
    // every doc in the block shares the hot gram "common"; pairs (1,2) also
    // share rare grams. With maxDf = 2 the hot gram generates no candidates:
    // (1,3)/(2,3) share ONLY "common" → absent; (1,2) found via rare grams,
    // and its jaccard counts the hot gram too (exact full-gram verify).
    val d = Seq(
      (1L, "common alpha beta", "x"),
      (2L, "common alpha beta", "x"),
      (3L, "common zeta", "x")
    ).toDF("doc_id", "text", "src")
    val capped = Dedup.ngramJaccardPairs(d, "text", "doc_id", "src", n = 1, maxDf = 2)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(capped.keySet == Set((1L, 2L)))
    assert(capped((1L, 2L)) == 1.0) // 3/3 incl. the hot gram — verify is exact
    val exact = Dedup.ngramJaccardPairs(d, "text", "doc_id", "src", n = 1).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(exact((1L, 2L)) == 1.0 && exact.contains((1L, 3L))) // uncapped sees all
  }

  test("staged incremental dedup: persisted store, plan size flat across batches") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val dir = tmpDir("graft_fp_store")

    val batch1 = Seq(
      (1L, "alpha content"), (2L, "ALPHA   content"), (3L, "beta content")
    ).toDF("doc_id", "text")
    assert(ids(Dedup.dedupeIncrementalStaged(batch1, dir, "text", "doc_id"))
      == Set(1L, 3L))
    assert(Dedup.FingerprintStore.load(spark, dir).count() == 2)
    val planAfter1 =
      Dedup.FingerprintStore.load(spark, dir).queryExecution.optimizedPlan
        .collect { case p => p }.size

    val batch2 = Seq(
      (4L, "beta content"),    // known from batch 1 -> dropped
      (5L, "gamma content"),   // new -> survives
      (6L, "gamma content"),   // in-batch dup of 5
      (7L, " GAMMA  content ") // normalizes to the same -> dup of 5
    ).toDF("doc_id", "text")
    assert(ids(Dedup.dedupeIncrementalStaged(batch2, dir, "text", "doc_id"))
      == Set(5L))
    assert(Dedup.FingerprintStore.load(spark, dir).count() == 3)

    // idempotent replay: appends an empty segment, returns no survivors
    assert(ids(Dedup.dedupeIncrementalStaged(batch2, dir, "text", "doc_id")).isEmpty)
    assert(Dedup.FingerprintStore.load(spark, dir).count() == 3)

    // two more batches, then the seam's whole point: the store's plan is
    // one parquet relation, NOT a union stack growing with batch count
    for (i <- 10L to 11L) {
      val b = Seq((i, s"doc $i body")).toDF("doc_id", "text")
      assert(ids(Dedup.dedupeIncrementalStaged(b, dir, "text", "doc_id")) == Set(i))
    }
    assert(Dedup.FingerprintStore.segments(spark, dir).size == 5)
    val planAfter5 =
      Dedup.FingerprintStore.load(spark, dir).queryExecution.optimizedPlan
        .collect { case p => p }.size
    assert(planAfter5 == planAfter1,
      s"store plan grew with batch count: $planAfter1 -> $planAfter5")
  }

  test("staged incremental dedup: null-text docs dedupe ACROSS batches too") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val dir = tmpDir("graft_fp_null")
    val b1 = Seq((1L, null.asInstanceOf[String]), (2L, "real text"))
      .toDF("doc_id", "text")
    assert(ids(Dedup.dedupeIncrementalStaged(b1, dir, "text", "doc_id"))
      == Set(1L, 2L))
    // a later batch's null-text doc is a duplicate of batch 1's — the
    // sentinel fp must match where a raw null fp never would
    val b2 = Seq((3L, null.asInstanceOf[String]), (4L, "other text"))
      .toDF("doc_id", "text")
    assert(ids(Dedup.dedupeIncrementalStaged(b2, dir, "text", "doc_id"))
      == Set(4L))
  }

  test("streaming dedup: replay survives a compaction that spares the newest segment") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val dir = tmpDir("graft_stream_fp_compact")
    try {
      val b0 = Seq((1L, "one body"), (2L, "two body")).toDF("doc_id", "text")
      val b1 = Seq((3L, "one body"), (4L, "three body")).toDF("doc_id", "text")
      assert(ids(Dedup.dedupeStreamStaged(b0, dir, "text", "doc_id", 0))
        == Set(1L, 2L))
      assert(ids(Dedup.dedupeStreamStaged(b1, dir, "text", "doc_id", 1))
        == Set(4L))
      Dedup.FingerprintStore.compact(spark, dir, buckets = 4,
        tablePrefix = "fp_stream", keepNewestSegments = 1)
      // the newest segment survived the fold — its epoch can still replay
      assert(Dedup.FingerprintStore.segments(spark, dir).size == 1)
      assert(ids(Dedup.dedupeStreamStaged(b1, dir, "text", "doc_id", 1))
        == Set(4L))
      // and the folded history still dedupes the next epoch
      val b2 = Seq((5L, "two body"), (6L, "four body")).toDF("doc_id", "text")
      assert(ids(Dedup.dedupeStreamStaged(b2, dir, "text", "doc_id", 2))
        == Set(6L))
    } finally {
      Dedup.FingerprintStore.currentGenTable(spark, dir)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("FingerprintStore.compact folds segments into a bucketed generation") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val dir = tmpDir("graft_fp_compact")
    try {
      for (i <- 1L to 3L) {
        val b = Seq((i, s"doc $i body")).toDF("doc_id", "text")
        assert(ids(Dedup.dedupeIncrementalStaged(b, dir, "text", "doc_id")) == Set(i))
      }
      assert(Dedup.FingerprintStore.segments(spark, dir).size == 3)

      val table = Dedup.FingerprintStore.compact(spark, dir, buckets = 4,
        tablePrefix = "fp_spec")
      // the name is store-scoped: prefix + dir hash + generation
      assert(table.startsWith("fp_spec_") && table.endsWith("_g00001"))
      // segment count collapses; the store's content is intact
      assert(Dedup.FingerprintStore.segments(spark, dir).isEmpty)
      assert(Dedup.FingerprintStore.currentGenTable(spark, dir).contains(table))
      assert(Dedup.FingerprintStore.load(spark, dir).count() == 3)

      // the per-ingest anti-join reads the bucketed store WITHOUT an
      // exchange on the store side: only the batch's fps shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Seq((50L, "doc 2 body"), (51L, "unseen body"))
        .toDF("doc_id", "text")
      val antiPlan = Dedup.exact(probe, "text", "doc_id")
        .join(Dedup.FingerprintStore.load(spark, dir)
          .select(org.apache.spark.sql.functions.col("fp").as("fp_s")),
          org.apache.spark.sql.functions.col("fp") ===
            org.apache.spark.sql.functions.col("fp_s"), "left_anti")
        .queryExecution.executedPlan.toString
      assert(antiPlan.contains("SelectedBucketsCount"),
        s"store side not read as bucketed:\n$antiPlan")
      assert(!antiPlan.contains("Exchange hashpartitioning(fp_s"),
        s"bucketed store side still shuffles:\n$antiPlan")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

      // ingest results unchanged across the layout change
      val b4 = Seq((40L, "doc 2 body"), (41L, "fresh body")).toDF("doc_id", "text")
      assert(ids(Dedup.dedupeIncrementalStaged(b4, dir, "text", "doc_id")) == Set(41L))
      assert(Dedup.FingerprintStore.load(spark, dir).count() == 4)
      assert(Dedup.FingerprintStore.segments(spark, dir).size == 1)

      // a second compaction folds gen + new segments into the next gen
      val table2 = Dedup.FingerprintStore.compact(spark, dir, buckets = 4,
        tablePrefix = "fp_spec")
      assert(table2.endsWith("_g00002"))
      assert(Dedup.FingerprintStore.segments(spark, dir).isEmpty)
      assert(Dedup.FingerprintStore.load(spark, dir).count() == 4)
      assert(!spark.catalog.tableExists(table)) // prior gen dropped
      // replayed known doc still filtered against the re-folded store
      val b5 = Seq((60L, "fresh body")).toDF("doc_id", "text")
      assert(ids(Dedup.dedupeIncrementalStaged(b5, dir, "text", "doc_id")).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      Dedup.FingerprintStore.currentGenTable(spark, dir)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("incremental near-dup dedup equals the global band-match policy") {
    import org.apache.spark.sql.functions.{col => c}
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // deterministic corpus: 12 base texts, then exact copies, then
    // near copies (two tokens appended) — ids strictly ascending across
    // the three groups, which is the ingest-batch contract
    val base = (0 until 12).map { i =>
      // disjoint per-doc vocabulary: no base pair shares a bigram, so
      // every base doc must survive the global policy
      (i.toLong + 1, (0 until 10).map(j => s"w${i}x$j").mkString(" "))
    }
    val exactCopies = base.map { case (id, t) => (id + 100, t) }
    val nearCopies = base.map { case (id, t) => (id + 200, t + " nu xi") }
    val corpus = base ++ exactCopies ++ nearCopies
    val all = corpus.toDF("doc_id", "text")

    // global policy: drop b when ANY smaller-id a shares a band key
    val keys = Dedup.bandKeys(
      Dedup.minhashSignatures(all, "text", "doc_id", k = 8, ngram = 2),
      "doc_id", bands = 4)
    val globalDrops = keys.as("a")
      .join(keys.as("b"), c("a.fp") === c("b.fp") && c("a.doc_id") < c("b.doc_id"))
      .select(c("b.doc_id").as("doc_id")).distinct()
    val expected = corpus.map(_._1).toSet -- ids(globalDrops)
    // sanity: exact copies MUST all be caught; the plant is real
    assert(exactCopies.map(_._1).toSet.intersect(expected).isEmpty)
    assert(expected.size >= 12) // every base doc survives

    // sequential loop over three batches, compaction mid-sequence
    val dir = tmpDir("graft_sig_store")
    try {
      val got1 = ids(Dedup.dedupeNearIncrementalStaged(
        base.toDF("doc_id", "text"), dir, "text", "doc_id"))
      val got2 = ids(Dedup.dedupeNearIncrementalStaged(
        exactCopies.toDF("doc_id", "text"), dir, "text", "doc_id"))
      Dedup.FingerprintStore.compact(spark, dir, buckets = 4,
        tablePrefix = "sig_spec")
      val got3 = ids(Dedup.dedupeNearIncrementalStaged(
        nearCopies.toDF("doc_id", "text"), dir, "text", "doc_id"))
      assert(got1 ++ got2 ++ got3 == expected,
        s"sequential=${(got1 ++ got2 ++ got3).toSeq.sorted} " +
          s"global=${expected.toSeq.sorted}")
      // replay idempotence: rerunning the LAST batch re-derives the
      // identical survivors (its own stored keys are owned by itself,
      // so owner-aware matching does not self-drop)
      val replayed = ids(Dedup.dedupeNearIncrementalStaged(
        nearCopies.toDF("doc_id", "text"), dir, "text", "doc_id"))
      assert(replayed == got3)
    } finally {
      Dedup.FingerprintStore.currentGenTable(spark, dir)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("FingerprintStore generation survives a catalog restart and never cross-talks") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val dirA = tmpDir("graft_fp_restart_a")
    val dirB = tmpDir("graft_fp_restart_b")
    try {
      Dedup.dedupeIncrementalStaged(
        Seq((1L, "alpha body")).toDF("doc_id", "text"), dirA, "text", "doc_id").count()
      Dedup.dedupeIncrementalStaged(
        Seq((2L, "beta body")).toDF("doc_id", "text"), dirB, "text", "doc_id").count()
      // DEFAULT tablePrefix on both stores: the dir-hash-scoped names
      // must differ, so neither compaction can overwrite the other
      val tA = Dedup.FingerprintStore.compact(spark, dirA, buckets = 4)
      val tB = Dedup.FingerprintStore.compact(spark, dirB, buckets = 4)
      assert(tA != tB)
      assert(ids(Dedup.FingerprintStore.load(spark, dirA)) == Set(1L))
      assert(ids(Dedup.FingerprintStore.load(spark, dirB)) == Set(2L))

      // simulate a fresh session over a persisted store: the in-memory
      // catalog entry is gone, the store dir is all that's left
      spark.sql(s"DROP TABLE $tA")
      assert(ids(Dedup.FingerprintStore.load(spark, dirA)) == Set(1L))
      // and the re-registered handle is still a BUCKETED read — the
      // anti-join stays exchange-free on the store side after restart
      spark.sql(s"DROP TABLE $tA")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Seq((9L, "alpha body")).toDF("doc_id", "text")
      val plan = Dedup.exact(probe, "text", "doc_id")
        .join(Dedup.FingerprintStore.load(spark, dirA)
          .select(org.apache.spark.sql.functions.col("fp").as("fp_s")),
          org.apache.spark.sql.functions.col("fp") ===
            org.apache.spark.sql.functions.col("fp_s"), "left_anti")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"restarted store side not read as bucketed:\n$plan")
      // ingest keeps working against the recovered store
      assert(ids(Dedup.dedupeIncrementalStaged(
        Seq((3L, "alpha body"), (4L, "new body")).toDF("doc_id", "text"),
        dirA, "text", "doc_id")) == Set(4L))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      Seq(dirA, dirB).foreach { d =>
        Dedup.FingerprintStore.currentGenTable(spark, d)
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      }
    }
  }

  test("staged incremental dedup: a crashed (uncommitted) segment is never read") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val dir = tmpDir("graft_fp_store_crash")

    val batch1 = Seq((1L, "first doc")).toDF("doc_id", "text")
    assert(ids(Dedup.dedupeIncrementalStaged(batch1, dir, "text", "doc_id")) == Set(1L))

    // simulate a crash mid-write: a partial segment directory with data
    // files but NO _SUCCESS marker must be invisible to load/segments and
    // reclaimed (overwritten) by the next ingest at that index
    val partial = java.nio.file.Paths.get(dir, "seg_00001")
    java.nio.file.Files.createDirectories(partial)
    Seq(("deadbeef", 999L)).toDF("fp", "doc_id")
      .write.mode("overwrite").parquet(partial.toString)
    java.nio.file.Files.delete(partial.resolve("_SUCCESS"))
    assert(Dedup.FingerprintStore.segments(spark, dir).size == 1)
    assert(Dedup.FingerprintStore.load(spark, dir).count() == 1)

    val batch2 = Seq((2L, "second doc")).toDF("doc_id", "text")
    assert(ids(Dedup.dedupeIncrementalStaged(batch2, dir, "text", "doc_id")) == Set(2L))
    // the ghost fingerprint from the dead write is gone, not resurrected
    val store = Dedup.FingerprintStore.load(spark, dir)
    assert(store.count() == 2)
    assert(store.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("bloom probe: zero false negatives vs the builder; codegen = interpreted; null-safe") {
    import graft.functions.BloomFunctions
    import org.apache.spark.sql.graft.{BloomMightContain, ColumnBridge}
    val vals = (0 until 2000).map(i => s"fp_$i%032x")
    val df = vals.toDF("fp")
    val bloom = BloomFunctions.bloomFor(df, "fp", vals.size.toLong, fpp = 0.01)
    // the soundness contract the prefilter rests on: every inserted value
    // MUST probe positive (a false negative would let a duplicate through)
    val probed = df
      .withColumn("hit", BloomFunctions.mightContain(bloom, col("fp")))
      .filter(!col("hit")).count()
    assert(probed == 0L, "bloom returned a false negative")
    // interpreted eval agrees with the codegen'd path row-for-row
    val expr = BloomMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        null, org.apache.spark.sql.types.StringType), bloom)
    assert(expr.eval(null) == null, "null input must yield null")
    val interp = vals.map(v => BloomMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(v)), bloom)
      .eval(null).asInstanceOf[Boolean])
    assert(interp.forall(identity))
  }

  test("bloom prefilter prunes: a disjoint batch sends almost nothing to the join") {
    import graft.functions.BloomFunctions
    val stored = (0 until 1000).map(i => s"stored_$i").toDF("fp")
    val bloom = BloomFunctions.bloomFor(stored, "fp", 1000L, fpp = 0.01)
    val fresh = (0 until 1000).map(i => s"fresh_$i").toDF("fp")
    val positives = fresh
      .withColumn("hit", BloomFunctions.mightContain(bloom, col("fp")))
      .filter(col("hit")).count()
    // expectation ≈ fpp · 1000 = 10; anything near the batch size means
    // the prefilter stopped pruning
    assert(positives <= 50L,
      s"bloom passed $positives of 1000 disjoint fps to the join")
  }

  test("bloom incremental dedup: bit-identical to the plain staged path, batch for batch") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val plainDir = tmpDir("graft_fp_plain")
    val bloomDir = tmpDir("graft_fp_bloom")
    val batches = Seq(
      Seq((1L, "alpha content"), (2L, "ALPHA   content"), (3L, "beta content"),
        (4L, null.asInstanceOf[String])),
      Seq((5L, "beta content"), (6L, "gamma content"), (7L, " GAMMA  content "),
        (8L, null.asInstanceOf[String])),
      Seq((9L, "delta content"), (10L, "alpha content"))
    ).map(_.toDF("doc_id", "text"))
    batches.foreach { b =>
      val p = ids(Dedup.dedupeIncrementalStaged(b, plainDir, "text", "doc_id"))
      val q = ids(Dedup.dedupeIncrementalBloomStaged(b, bloomDir, "text", "doc_id"))
      assert(p == q, s"bloom path diverged: plain=$p bloom=$q")
    }
    // stores end identical too (fp, doc_id) — and no staging residue
    val sp = Dedup.FingerprintStore.load(spark, plainDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val sb = Dedup.FingerprintStore.load(spark, bloomDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(sp == sb)
    val residue = new java.io.File(bloomDir).listFiles()
      .map(_.getName).filter(_.startsWith("tmp_probe"))
    assert(residue.isEmpty, s"staging residue left behind: ${residue.toSeq}")
    // replay idempotency through the bloom path as well
    assert(ids(Dedup.dedupeIncrementalBloomStaged(
      batches(2), bloomDir, "text", "doc_id")).isEmpty)
  }

  test("bloom near-dup incremental: bit-identical to the plain band-store path") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val base = (0 until 8).map { i =>
      (i.toLong + 1, (0 until 10).map(j => s"w${i}x$j").mkString(" "))
    }
    val nearCopies = base.map { case (id, t) => (id + 100, t + " nu xi") }
    val fresh = (0 until 4).map { i =>
      (i.toLong + 200, (0 until 10).map(j => s"v${i}y$j").mkString(" "))
    }
    val plainDir = tmpDir("graft_sig_plain")
    val bloomDir = tmpDir("graft_sig_bloom")
    try {
      for (b <- Seq(base, nearCopies ++ fresh)) {
        val df = b.toDF("doc_id", "text")
        val p = ids(Dedup.dedupeNearIncrementalStaged(df, plainDir, "text", "doc_id"))
        val q = ids(Dedup.dedupeNearIncrementalBloomStaged(df, bloomDir, "text", "doc_id"))
        assert(p == q, s"bloom near-dup diverged: plain=$p bloom=$q")
      }
      // stores end identical (same keys, same owners)
      val sp = Dedup.FingerprintStore.load(spark, plainDir)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val sb = Dedup.FingerprintStore.load(spark, bloomDir)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(sp == sb)
      // replay idempotence through the bloom path
      val again = ids(Dedup.dedupeNearIncrementalBloomStaged(
        (nearCopies ++ fresh).toDF("doc_id", "text"), bloomDir, "text", "doc_id"))
      assert(again == ids(Dedup.dedupeNearIncrementalStaged(
        (nearCopies ++ fresh).toDF("doc_id", "text"), plainDir, "text", "doc_id")))
    } finally {
      graft.io.Sinks.truncatePath(spark, plainDir)
      graft.io.Sinks.truncatePath(spark, bloomDir): Unit
    }
  }

  test("eval-gram store: suites accumulate; incremental = one-shot over their union") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val eval1 = Seq((1000L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val eval2 = Seq((1001L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma other words here"),   // hits suite 1
      (2L, "epsilon zeta eta more padding text"),  // hits suite 2
      (3L, "completely clean document body here")  // survives
    ).toDF("doc_id", "text")
    val dir = tmpDir("graft_eval_store")
    try {
      Dedup.EvalGramStore.registerEval(eval1, dir, "text", n = 3)
      assert(Dedup.EvalGramStore.segments(spark, dir).size == 1)
      // after suite 1 only doc 1 is contaminated
      assert(ids(Dedup.decontaminateIncrementalStaged(
        train, dir, "text", "doc_id", n = 3)) == Set(2L, 3L))
      Dedup.EvalGramStore.registerEval(eval2, dir, "text", n = 3)
      // accumulated store now also kills doc 2 — equals the one-shot
      // decontamination against the union of both suites
      val incremental = ids(Dedup.decontaminateIncrementalStaged(
        train, dir, "text", "doc_id", n = 3))
      val oneShot = ids(Dedup.decontaminate(
        train, eval1.unionByName(eval2), "text", "doc_id", n = 3))
      assert(incremental == oneShot && incremental == Set(3L))
      // a crashed (uncommitted) suite segment is invisible
      val partial = java.nio.file.Paths.get(dir, "seg_00002")
      java.nio.file.Files.createDirectories(partial)
      assert(Dedup.EvalGramStore.segments(spark, dir).size == 2)
    } finally graft.io.Sinks.truncatePath(spark, dir)
  }

  test("dupSpanProfile: shared spans island-merge, self-repeats count, unique docs zero") {
    // w1..w12 unique filler words; docs 1 and 2 share tokens 1..10 (a
    // 10-token run = three overlapping 8-grams -> ONE island of 10),
    // doc 3 repeats its own 8-token phrase twice back to back (self-dup,
    // adjacent islands merge), doc 4 is fully unique, doc 5 is too short
    // to produce any 8-gram.
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val phrase = (1 to 8).map(i => s"p$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$shared alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$shared iota kappa lambda mu nu xi omicron pi"),
      (3L, s"$phrase $phrase"),
      (4L, "entirely novel words never repeated anywhere in this corpus at all"),
      (5L, "too short")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanProfile(corpus, "text", "doc_id", k = 8)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_spans"),
          r.getAs[Long]("dup_tokens"))))
      .toMap
    assert(got(1L) == ((18L, 1L, 10L))) // one merged island over tokens 1..10
    assert(got(2L) == ((18L, 1L, 10L)))
    // doc 3: only the grams at pos 1 and pos 9 recur (both = the phrase
    // itself); their intervals [1,8] and [9,16] touch -> ONE island of 16
    assert(got(3L) == ((16L, 1L, 16L)))
    assert(got(4L) == ((11L, 0L, 0L)))
    assert(got(5L) == ((2L, 0L, 0L)))
  }

  test("stripDupSpans: both occurrences removed, survivors re-join in order") {
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$shared alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"iota $shared kappa"),   // dup run sits mid-document
      (3L, "entirely novel words never repeated anywhere at all")
    ).toDF("doc_id", "text")
    val got = Dedup.stripDupSpans(corpus, "text", "doc_id", k = 8)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("kept_tokens"),
          r.getAs[String]("clean_text"))))
      .toMap
    // doc 1: tokens 1..10 stripped, the 8-token unique tail survives
    assert(got(1L) ==
      ((18L, 8L, "alpha beta gamma delta epsilon zeta eta theta")))
    // doc 2: the SECOND occurrence goes too; flanks survive in order
    assert(got(2L) == ((12L, 2L, "iota kappa")))
    // doc 3: untouched
    assert(got(3L) ==
      ((8L, 8L, "entirely novel words never repeated anywhere at all")))
  }

  test("stripDupSpans: fully-duplicated doc empties; short docs untouched") {
    val phrase = (1 to 8).map(i => s"p$i").mkString(" ")
    val corpus = Seq(
      (1L, phrase), (2L, phrase),  // exact 8-token twins -> both emptied
      (3L, "too short")
    ).toDF("doc_id", "text")
    val got = Dedup.stripDupSpans(corpus, "text", "doc_id", k = 8)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("kept_tokens"), r.getAs[String]("clean_text"))))
      .toMap
    assert(got(1L) == ((0L, "")) && got(2L) == ((0L, "")))
    assert(got(3L) == ((2L, "too short")))
  }

  test("dupSpansIncrementalStaged: history flags later batches only; batch 1 = one-shot") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gram_spec").toString
    try {
      val phrase = (1 to 8).map(i => s"p$i").mkString(" ")
      val b1 = Seq(
        (1L, s"$phrase alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "wholly original first batch content with nothing repeated here")
      ).toDF("doc_id", "text")
      val b2 = Seq(
        (11L, s"$phrase iota kappa lambda mu nu xi omicron pi"), // phrase seen in b1
        (12L, s"$phrase $phrase"),                               // also self-repeats
        (13L, "novel second batch words that match no prior gram stream")
      ).toDF("doc_id", "text")
      def prof(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("dup_spans"), r.getAs[Long]("dup_tokens")))).toMap
      val p1 = prof(Dedup.dupSpansIncrementalStaged(b1, dir, "text", "doc_id", 8)
        .localCheckpoint(true))
      // batch 1 against an empty store = the one-shot profile: no
      // within-batch repeats, so all zeros — history can't flag backwards
      assert(p1(1L) == ((0L, 0L)) && p1(2L) == ((0L, 0L)))
      val oneShot = prof(Dedup.dupSpanProfile(b1, "text", "doc_id", 8))
      assert(p1 == oneShot)
      val p2 = prof(Dedup.dupSpansIncrementalStaged(b2, dir, "text", "doc_id", 8)
        .localCheckpoint(true))
      assert(p2(11L) == ((1L, 8L)))   // store hit: b1's phrase gram
      assert(p2(12L) == ((1L, 16L)))  // store hit + self-repeat, one island
      assert(p2(13L) == ((0L, 0L)))
      // two committed segments, schema-pinned
      assert(Dedup.FingerprintStore.segments(spark, dir).size == 2)
    } finally graft.io.Sinks.truncatePath(spark, dir)
  }

  test("dupSpanProfile: disjoint duplicated regions stay separate islands") {
    val runA = (1 to 8).map(i => s"a$i").mkString(" ")
    val runB = (1 to 8).map(i => s"b$i").mkString(" ")
    // doc 1 carries runA, a 9-token unique gap, then runB; docs 2 and 3
    // donate the second occurrences. Gap > 1 -> two islands of 8 each.
    val corpus = Seq(
      (1L, s"$runA g1 g2 g3 g4 g5 g6 g7 g8 g9 $runB"),
      (2L, s"$runA x1 x2 x3 x4 x5 x6 x7 x8 x9"),
      (3L, s"y1 y2 y3 y4 y5 y6 y7 y8 y9 $runB")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpanProfile(corpus, "text", "doc_id", k = 8)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("dup_spans"), r.getAs[Long]("dup_tokens"),
          r.getAs[Double]("dup_ratio"))))
      .toMap
    assert(got(1L) == ((2L, 16L, 0.64)))   // 16 of 25 tokens covered
    assert(got(2L)._1 == 1L && got(2L)._2 == 8L)
    assert(got(3L)._1 == 1L && got(3L)._2 == 8L)
  }

  test("allPairsJaccard equals the brute-force exact join; prefix pruning invisible") {
    // template cluster {1,2,3} with drift, plus distinct docs — enough
    // token overlap structure that prefix + size pruning actually prune
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, base),
      (2L, base + " extra1"),                       // J = 20/21 ≈ .952
      (3L, base.replace("w20", "z20")),             // J = 19/21 ≈ .905
      (4L, (1 to 20).map(i => s"v$i").mkString(" ")),
      (5L, "tiny doc"),
      (6L, "tiny doc")                              // J = 1 with 5
    ).toDF("doc_id", "text")
    def bruteForce(t100: Int): Set[(Long, Long, Long)] = {
      val sets = corpus.collect().map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSet).toMap
      (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = (sets(a) & sets(b)).size
        if inter * 100 >= t100 * (sets(a) | sets(b)).size
      } yield (a, b, inter.toLong)).toSet
    }
    for (t100 <- Seq(50, 90)) {
      val got = Dedup.allPairsJaccard(corpus, "text", "doc_id", t100)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Long]("n_common"))).toSet
      assert(got == bruteForce(t100), s"t100=$t100")
    }
    // the integer jaccard is exact: pair (5,6) is 10000, (1,2) is 9523
    val pp = Dedup.allPairsJaccard(corpus, "text", "doc_id", 90)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("jaccard_pp10k")).toMap
    assert(pp((5L, 6L)) == 10000L && pp((1L, 2L)) == 9523L)
    // candidate generation is an equi-join on prefix tokens — no
    // cartesian / nested-loop anywhere in the plan
    val plan = Dedup.allPairsJaccard(corpus, "text", "doc_id", 90)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    // CACHE CONTRACT: the operator registers its persisted token-list
    // intermediate with OperatorCaches; a library caller releases it
    // after the terminal action without nuking their own caches
    import graft.util.OperatorCaches
    assert(OperatorCaches.registeredCount(spark) > 0)
    val mine = corpus.persist()
    mine.count()
    OperatorCaches.release(spark)
    assert(OperatorCaches.registeredCount(spark) == 0)
    assert(mine.storageLevel.useMemory) // caller cache untouched
    mine.unpersist()
    // TOKEN-SCOPED release: a caller composing two cache-registering
    // operators can evict only the second's frames — the first's pinned
    // intermediate (whose recompute might not be byte-identical, e.g. a
    // range-partitioned Layout frame) stays cached
    val first = Dedup.allPairsJaccard(corpus, "text", "doc_id", 90)
    first.count() // registers + materializes the first operator's caches
    val before = OperatorCaches.registeredCount(spark)
    assert(before > 0)
    val markAt = OperatorCaches.mark()
    val second = Dedup.allPairsJaccard(corpus, "text", "doc_id", 50)
    second.count()
    assert(OperatorCaches.registeredCount(spark) > before)
    OperatorCaches.releaseSince(spark, markAt)
    assert(OperatorCaches.registeredCount(spark) == before,
      "releaseSince must evict exactly the frames registered after mark")
    OperatorCaches.release(spark)
    assert(OperatorCaches.registeredCount(spark) == 0)
  }

  test("SortedIntersectCount: two-pointer merge matches array_intersect on sorted distinct arrays") {
    import org.apache.spark.sql.graft.{ColumnBridge, SortedIntersectCount}
    val df = Seq(
      (Seq("a", "b", "c", "d"), Seq("b", "c", "x")),
      (Seq("a"), Seq[String]()),
      (Seq[String](), Seq[String]()),
      (Seq("m", "n"), Seq("m", "n"))
    ).toDF("x", "y")
    val c = ColumnBridge.column(SortedIntersectCount(
      ColumnBridge.expression(col("x")), ColumnBridge.expression(col("y"))))
    val got = df.select(c.as("c")).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 0L, 0L, 2L))
    // interpreted (nullSafeEval) path agrees — force the no-codegen
    // factory so the fallback actually executes, then restore
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val gotEval = df.select(c.as("c")).collect().map(_.getLong(0)).toSeq
      assert(gotEval == got)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("sourceOverlap: diagonal within-source dups, off-diagonal pairs, mass counts") {
    import spark.implicits._
    val docs = Seq(
      // fp X lives in a (2 copies) and b (1) — diag(a) + pair(a,b)
      (1L, "Shared  Text", "a"), (2L, "shared text", "a"),
      (3L, "SHARED TEXT", "b"),
      // fp Y lives in b and c once each — pair(b,c) only
      (4L, "other doc", "b"), (5L, "Other Doc", "c"),
      // unique doc — contributes nowhere
      (6L, "lonely", "c"))
      .toDF("doc_id", "text", "source")
    val got = graft.operators.Dedup.sourceOverlap(docs, "text", "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      ("a", "a") -> ((1L, 2L)), // one dup fp carrying 2 docs
      ("a", "b") -> ((1L, 3L)), // fp X: 2 in a + 1 in b
      ("b", "c") -> ((1L, 2L)))) // fp Y: 1 + 1
  }
}
