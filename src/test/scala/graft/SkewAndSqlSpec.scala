package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.Skew

class SkewAndSqlSpec extends SparkSpec {
  import spark.implicits._

  test("detectHeavyKeys: flags only the hot key, empty report when unskewed") {
    val skewed = (Seq.fill(500)(("hot", 1)) ++
      (1 to 20).flatMap(i => Seq.fill(4)((s"k$i", i)))).toDF("k", "v")
    val rpt = Skew.detectHeavyKeys(skewed, "k")
    assert(rpt.isSkewed && rpt.keys == Seq("hot"))
    assert(rpt.maxCount == 500L)
    // flat distribution → no heavy keys even though counts differ slightly
    val flat = (1 to 20).flatMap(i => Seq.fill(30 + i % 3)((s"k$i", i))).toDF("k", "v")
    assert(!Skew.detectHeavyKeys(flat, "k").isSkewed)
    // tiny frame: max count under the absolute floor → never skewed
    val tiny = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    assert(!Skew.detectHeavyKeys(tiny, "k").isSkewed)
    // empty frame → clean empty report
    assert(!Skew.detectHeavyKeys(tiny.filter(lit(false)), "k").isSkewed)
  }

  test("adaptiveSaltedJoin: unskewed input takes the passthrough (no-salt) plan") {
    val left = (1 to 40).flatMap(i => Seq.fill(3)((s"k$i", i))).toDF("k", "lv")
    val right = (1 to 40).map(i => (s"k$i", i * 10)).toDF("k", "rv")
    val joined = Skew.adaptiveSaltedJoin(left, right, "k", salt = 8)
    // passthrough = plain join: no __salt column anywhere in the plan
    assert(!joined.queryExecution.optimizedPlan.toString.contains("__salt"))
    val plain = left.join(right, Seq("k")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val got = joined.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == plain)
  }

  test("adaptiveSaltedJoin: skewed input salts ONLY the hot key and matches plain join") {
    val left = (Seq.fill(600)(("hot", 1)) ++
      (1 to 30).flatMap(i => Seq.fill(2)((s"k$i", i)))).toDF("k", "lv")
    val right = (Seq(("hot", 99)) ++ (1 to 30).map(i => (s"k$i", i * 10)) ++
      Seq(("unmatched", 0))).toDF("k", "rv")
    // sampleFraction = 1.0: this spec pins the salting MECHANICS on a
    // 30-key frame, where the default 10% detection sample would distort
    // the per-key mean (hot dominates a 7-key sample); the sampled-gate
    // default is for corpus-scale inputs
    val joined = Skew.adaptiveSaltedJoin(left, right, "k", salt = 8,
      sampleFraction = 1.0)
    assert(joined.queryExecution.optimizedPlan.toString.contains("__salt"))
    val plain = left.join(right, Seq("k"))
    assert(joined.count() == plain.count())
    val got = joined.groupBy($"k").agg(count(lit(1)).as("n"), sum($"rv").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = plain.groupBy($"k").agg(count(lit(1)).as("n"), sum($"rv").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // left join: unmatched left rows survive exactly once; cold rows unreplicated
    val lj = Skew.adaptiveSaltedJoin(
      left.union(Seq(("lonely", 7)).toDF("k", "lv")), right, "k",
      salt = 8, joinType = "left", sampleFraction = 1.0)
    assert(lj.filter($"k" === "lonely").count() == 1)
    intercept[IllegalArgumentException] {
      Skew.adaptiveSaltedJoin(left, right, "k", salt = 8, joinType = "full_outer")
    }
  }

  test("AQE splits a skewed sort-merge join partition (skew=true in final plan)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // shrink thresholds so test-sized data counts as skewed
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    import s2.implicits._
    val left = (Seq.fill(5000)(("hot", "x" * 64)) ++
      (1 to 50).map(i => (s"k$i", "y"))).toDF("k", "pad")
    val right = (Seq(("hot", 1)) ++ (1 to 50).map(i => (s"k$i", i))).toDF("k", "rv")
    val joined = left.join(right, Seq("k"))
    // execute THIS DataFrame so its AdaptiveSparkPlan re-plans to final
    // (a count() would execute a different query tree)
    assert(joined.collect().length == 5050)
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"), finalPlan)
  }

  test("saltedSumCount equals plain aggregation") {
    val df = (Seq.fill(1000)(("hot", 2.0)) ++ Seq(("a", 1.0), ("a", 3.0))).toDF("k", "v")
    val got = Skew.saltedSumCount(df, "k", "v", salt = 16).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == Set(("hot", 2000.0, 1000L), ("a", 4.0, 2L)))
  }

  test("registered SQL functions run from spark.sql") {
    GraftFunctions.register(spark)
    val row = spark.sql("""
      SELECT mood_label(80.0, 'clear', 'neutral') AS mood,
             classify_news('Accident on main street') AS senti,
             traffic_condition(25.0) AS cond,
             graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cos,
             token_count('a b c') AS n,
             lang_id('the cat and the dog is here') AS lang
    """).head()
    assert(row.getAs[String]("mood") == "relaxed")
    assert(row.getAs[String]("senti") == "negative")
    assert(row.getAs[String]("cond") == "heavy")
    assert(row.getAs[Double]("cos") == 1.0)
    assert(row.getAs[Int]("n") == 3)
    assert(row.getAs[String]("lang") == "en")
    val vec = spark.sql("""
      SELECT graft_l2_normalize(array(3.0d, 4.0d)) AS nv,
             graft_dequantize_int8(graft_quantize_int8(array(0.5d, -1.0d))) AS rt
    """).head()
    assert(vec.getSeq[Double](0) == Seq(0.6, 0.8))
    val rt = vec.getSeq[Double](1)
    assert(math.abs(rt(0) - 0.5) < 0.005 && math.abs(rt(1) + 1.0) < 0.005)
    val h = spark.sql("""
      SELECT graft_stable_hash60('abc') AS h,
             graft_bpe_token_count('it''s a test-123') AS nb
    """).head()
    assert(h.getAs[Long]("h") == 648541476951500027L) // pinned vs DuckDB
    // it|'s| a| test|-|123 -> 6 pre-tokenizer matches
    assert(h.getAs[Int]("nb") == 6)
  }

  test("weather code map covers the canonical vocabulary") {
    import graft.model.Vocab
    assert(Vocab.WeatherCodeMap.size == 22)
    assert(Vocab.weatherLabel(0) == "clear")
    assert(Vocab.weatherLabel(999) == "unknown")
    assert(Vocab.WeatherCodeMap.values.toSet.subsetOf(
      (Vocab.RelaxingWeather ++ Vocab.StressfulWeather).toSet))
  }
}
