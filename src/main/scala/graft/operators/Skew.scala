package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Result of [[Skew.detectHeavyKeys]]: the hot join keys and the sampled
  * per-key stats that justified them.
  *
  * @param keys       join-key values whose (sampled) row count exceeded
  *                   `skewFactor ×` the mean per-key count
  * @param maxCount   largest sampled per-key count
  * @param meanCount  mean sampled per-key count
  */
final case class SkewReport(keys: Seq[Any], maxCount: Long, meanCount: Double) {
  def isSkewed: Boolean = keys.nonEmpty
}

/** Skew-mitigation utilities for joins whose key distribution is heavy-
  * tailed (one hot key ⇒ one straggler task at cluster scale).
  *
  * Spark's AQE skew-join handles SORT-MERGE join skew automatically at
  * runtime; salting remains necessary when (a) the skewed side feeds a
  * broadcast-impossible shuffled hash join, (b) the skew is in a groupBy
  * (AQE does not split aggregation keys), or (c) AQE is disabled (streaming
  * micro-batches).
  */
object Skew {

  /** Estimate the join-key histogram and return the HEAVY keys: those whose
    * per-key row count exceeds `skewFactor ×` the mean per-key count (and an
    * absolute floor `minCount`, so tiny samples can't promote noise).
    *
    * `sampleFraction < 1` row-samples the frame first — at 100 TB the
    * detection pass must be a cheap sampled scan, never a full-table
    * aggregation; a hot key owning >1/skewFactor of the mean load is
    * present in any non-trivial row sample by construction (its row count
    * is huge — that is what makes it hot). The returned key list is capped
    * at `maxKeys` (driver-side collect is bounded by the cap, and more
    * than ~1e3 distinct "hot" keys means the distribution is flat, not
    * skewed).
    */
  def detectHeavyKeys(
      df: DataFrame,
      key: String,
      skewFactor: Double = 8.0,
      sampleFraction: Double = 1.0,
      seed: Long = 42L,
      minCount: Long = 16L,
      maxKeys: Int = 1024): SkewReport = {
    require(skewFactor > 1.0, "skewFactor must be > 1")
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      "sampleFraction must be in (0, 1]")
    val base = if (sampleFraction >= 1.0) df
               else df.sample(withReplacement = false, sampleFraction, seed)
    // minCount is expressed in FULL-DATA rows; under a sample the counts
    // observed are ~sampleFraction of the true counts, so the threshold
    // scales with the fraction — otherwise a caller's noise floor would
    // silently rise 1/sampleFraction-fold when sampling is on (a key with
    // 100 true rows reads ~10 in a 10% sample and must clear minCount=16
    // scaled to 2, not 16). skewFactor needs no scaling: it compares the
    // sampled max against the sampled mean, both shrunk by the same
    // fraction.
    val minCountEff = math.max(1L, math.ceil(minCount * sampleFraction).toLong)
    val counts = base.groupBy(col(key)).agg(count(lit(1)).as("__c"))
    val stats = counts.agg(max(col("__c")).as("mx"), avg(col("__c")).as("mean")).head()
    if (stats.isNullAt(0)) return SkewReport(Nil, 0L, 0.0) // empty input
    val (mx, mean) = (stats.getLong(0), stats.getDouble(1))
    if (mx < minCountEff || mx <= skewFactor * mean) return SkewReport(Nil, mx, mean)
    // bounded collect: at most `maxKeys` rows (hot-key list), justified above
    val hot = counts
      .filter(col("__c") > lit(skewFactor * mean) && col("__c") >= lit(minCountEff))
      .orderBy(col("__c").desc, col(key))
      .limit(maxKeys)
      .select(col(key)).collect().map(_.get(0)).toSeq
    SkewReport(hot, mx, mean)
  }

  /** Skew-GATED salted equi-join — the production entry point. Estimates the
    * left side's key histogram first ([[detectHeavyKeys]]); if no key is
    * heavy, this is a PLAIN join (zero salting overhead — the common case,
    * and the plan AQE/broadcast already optimize well). If heavy keys exist,
    * only THOSE keys are salted: hot left rows spray across `salt` salts and
    * hot right rows replicate `salt` times, while every cold key keeps salt 0
    * (one copy, no replication tax on the long tail). One join either way.
    *
    * Salting is result-invisible: both paths produce exactly the rows of the
    * plain join (the q59 oracle certifies this). Right and full outer
    * joins are rejected: hot right rows replicate `salt` times, so each
    * unmatched one would be emitted once per salt.
    *
    * Detection defaults to a 10% row sample (seeded, deterministic): the
    * gate's cost must stay SUBLINEAR in the left table — a full
    * groupBy-count pre-scan before every join would double the left-side
    * read at 100 TB, and a key hot enough to matter (> skewFactor × mean)
    * is present in any non-trivial sample by construction. `minCount`
    * is expressed in FULL-DATA rows either way — [[detectHeavyKeys]]
    * scales it by the sample fraction internally, so the detection
    * threshold is invariant to how the gate samples.
    */
  def adaptiveSaltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      salt: Int = 8,
      joinType: String = "inner",
      skewFactor: Double = 8.0,
      sampleFraction: Double = 0.1,
      seed: Long = 42L): DataFrame = {
    require(salt > 1, "salt must be > 1")
    val jt = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "semi",
      "leftanti", "anti").contains(jt),
      s"adaptiveSaltedJoin: joinType '$joinType' unsupported — " +
        "right-row-emitting join types would duplicate unmatched right rows")
    val report = detectHeavyKeys(left, key, skewFactor, sampleFraction, seed)
    if (!report.isSkewed) {
      left.join(right, Seq(key), joinType)
    } else {
      val hot = report.keys
      val l = left.withColumn("__salt",
        when(col(key).isin(hot: _*),
          pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)).cast("int"))
          .otherwise(lit(0)))
      val r = right.withColumn("__salt",
        explode(when(col(key).isin(hot: _*), sequence(lit(0), lit(salt - 1)))
          .otherwise(array(lit(0)))))
      l.join(r, Seq(key, "__salt"), joinType).drop("__salt")
    }
  }

  /** Two-phase skew-safe aggregation: partial-aggregate on (key, salt) then
    * final-aggregate on key. Use for algebraic aggregates (sum/count/min/
    * max) over keys too hot for one reducer. (Spark's partial aggregation
    * already map-side combines; this additionally splits the REDUCE side of
    * a single hot key across `salt` reducers.)
    */
  def saltedSumCount(
      df: DataFrame,
      key: String,
      valueCol: String,
      salt: Int): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)).cast("int"))
    salted
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(col(key))
      .agg(sum(col("__psum")).as(s"sum_$valueCol"), sum(col("__pcnt")).as("n"))
  }
}
