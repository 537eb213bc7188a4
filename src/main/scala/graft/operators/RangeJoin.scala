package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (interval) join — with as-of (AsOf.scala) and sketches, one of the
  * classic operators Spark has no native physical strategy for: a naive
  * `a.join(b, pointInRange)` plans as a broadcast nested loop.
  *
  * Built by COMPOSITION: bucket time into fixed-width bins, replicate each
  * INTERVAL row into every bin it overlaps, map each POINT row to its
  * single bin, then equi-join on (key, bin) and apply the exact range
  * predicate. Because a point lives in exactly ONE bin, every matched
  * (point, interval) pair is produced exactly once — no dedup pass. Cost at
  * scale: one shuffle on (key, bin); interval replication factor is
  * ceil(len/binWidth)+1, so pick binWidth near the typical interval length.
  */
object RangeJoin {

  /** Keyed point-in-interval join: rows of `points` paired with every row
    * of `intervals` of the same `key` whose [startTs, endTs) half-open
    * window contains pointTs. Bin assignment uses second-truncated epoch
    * (monotonic, so truncation never drops a cover bin); the exact
    * predicate runs on full-precision timestamps.
    *
    * @param maxBinsPerInterval replication guard: an outlier interval far
    *   longer than `binSeconds` would silently explode into thousands of
    *   replicas (a year at 30-min bins is ~17k rows); the job FAILS with a
    *   clear message instead, telling the caller to raise `binSeconds`.
    */
  def pointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      key: String,
      pointTs: String,
      startTs: String,
      endTs: String,
      binSeconds: Long = 1800L,
      maxBinsPerInterval: Int = 1000): DataFrame = {
    require(binSeconds > 0, "binSeconds must be positive")
    val p = points.withColumn("__bin",
      floor(unix_timestamp(col(pointTs)) / binSeconds))
    // empty/inverted half-open intervals can never match — dropping them
    // up front also makes every bin sequence ascending (a wildly inverted
    // interval would otherwise pass the span guard with a negative span
    // and explode a huge DESCENDING sequence)
    val live = intervals.filter(col(endTs) > col(startTs))
    val startBin = floor(unix_timestamp(col(startTs)) / binSeconds)
    val endBin = floor(unix_timestamp(col(endTs)) / binSeconds)
    // the guard lives INSIDE the bin expression (assert_true yields null on
    // pass) so column pruning can never optimize it away
    val guardedEnd = when(
      assert_true(
        endBin - startBin < lit(maxBinsPerInterval.toLong),
        concat(lit(s"rangeJoin: interval spans more than $maxBinsPerInterval " +
          s"bins of $binSeconds s — raise binSeconds (interval "),
          col(startTs), lit(" .. "), col(endTs), lit(")"))).isNull,
      endBin)
    val i = live.withColumn("__bin", explode(sequence(startBin, guardedEnd)))
    p.join(i, Seq(key, "__bin"))
      .filter(col(pointTs) >= col(startTs) && col(pointTs) < col(endTs))
      .drop("__bin")
  }
}
