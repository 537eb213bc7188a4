package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.BatchSink
import graft.model.Vocab

/** Backfill tier (reference: my_airflow/dags/fake_mood_backfill.py:8-37 —
  * 7 days of synthetic mood history, 10–50 rows/day, inserted row-at-a-time
  * into the serving store). Engine version: rows are generated AS A
  * DISTRIBUTED FRAME (one `spark.range` over every row + deterministic
  * md5-hash draws, so any backfill size stays off the driver) and written
  * through the standard `BatchSink` path — the same sink the stream uses,
  * no side door. The per-day counts are drawn on the driver, so `run`
  * returns the row count without a second pass: the write is its one job.
  *
  * The generator reproduces the reference's DRIFTED shape on purpose
  * (int temps, the `happy/neutral/stressed` mood vocabulary, plain
  * `rain/cloudy` weather — fake_mood_backfill.py:14-31); `run` routes it
  * through `ExportPipeline.coerceMoodDrift` so what lands in the table is
  * the canonical union schema.
  */
object Backfill {

  private val Intersections = Seq("komitas", "mashtots", "barekamutyun", "kentron")
  private val WeatherOptions = Seq("clear", "rain", "fog", "cloudy")

  /** Deterministic 60-bit draw per (seed, in-day row `j`, field salted
    * with day index `i`) — md5-derived like every other engine hash, so
    * backfills are reproducible bit-for-bit.
    */
  private def draw(seed: Long, field: String): Column =
    conv(substring(md5(concat_ws(":", lit(seed), col("j"), concat(lit(field), col("i")))),
      1, 15), 16, 10).cast("long")

  /** Seed-deterministic row count per day, in [minPerDay, maxPerDay]; day
    * 0 is `endDay`. Drawn on the driver, so `run` knows the total.
    */
  private def dayCounts(days: Int, minPerDay: Int, maxPerDay: Int, seed: Long): Seq[Long] = {
    require(days > 0 && minPerDay > 0 && maxPerDay >= minPerDay, "bad backfill bounds")
    val rnd = new scala.util.Random(seed)
    Seq.fill(days)((minPerDay + rnd.nextInt(maxPerDay - minPerDay + 1)).toLong)
  }

  /** One `spark.range` over every backfilled row: global row `id` maps to
    * day `i` (from the cumulative per-day counts) and in-day row `j`, so
    * the frame is sliced like any range (default parallelism) rather than
    * once per day.
    */
  def generate(
      spark: SparkSession,
      endDay: LocalDate,
      days: Int = 7,
      minPerDay: Int = 10,
      maxPerDay: Int = 50,
      seed: Long = 42L): DataFrame = {
    // day i owns ids [starts(i), starts(i + 1))
    val starts = dayCounts(days, minPerDay, maxPerDay, seed).scanLeft(0L)(_ + _)
    val dayIdx = (1 until days).foldLeft(lit(0)) { (d, k) =>
      when(col("id") >= starts(k), k).otherwise(d)
    }
    val day = date_sub(lit(java.sql.Date.valueOf(endDay)), col("i"))
    // every field draw is salted with the DAY index too — otherwise row j
    // of each day would repeat the same value sequence
    val sentimentCol = element_at(typedLit(Vocab.Sentiments), (draw(seed, "s") % 3 + 1).cast("int"))
    spark.range(starts.last)
      .select(col("id"), dayIdx.as("i"))
      .select(col("i"), (col("id") - element_at(typedLit(starts), col("i") + 1)).as("j"))
      .select(
        make_timestamp(year(day), month(day), dayofmonth(day),
          (lit(6) + draw(seed, "h") % 18).cast("int"),
          (draw(seed, "m") % 60).cast("int"),
          lit(0)).as("event_time"),
        element_at(typedLit(Intersections), (draw(seed, "i") % 4 + 1).cast("int"))
          .as("intersection"),
        round(lit(20.0) + (draw(seed, "sp") % 601).cast("double") / 10.0, 1)
          .as("avg_speed"),
        (draw(seed, "t") % 41 - 5).cast("int").as("avg_temp"), // drift: INT temps
        element_at(typedLit(WeatherOptions), (draw(seed, "w") % 4 + 1).cast("int"))
          .as("weather"),
        sentimentCol.as("sentiment"),
        element_at(typedLit(Vocab.BackfillMoodMap), sentimentCol).as("mood"))
  }

  /** Generate + canonicalize + write through the standard sink path.
    * Returns the number of rows written, summed from the per-day counts.
    */
  def run(
      spark: SparkSession,
      sink: BatchSink,
      endDay: LocalDate,
      days: Int = 7,
      minPerDay: Int = 10,
      maxPerDay: Int = 50,
      seed: Long = 42L): Long = {
    sink.write(ExportPipeline.coerceMoodDrift(
      generate(spark, endDay, days, minPerDay, maxPerDay, seed)))
    dayCounts(days, minPerDay, maxPerDay, seed).sum
  }
}
