package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}

import graft.ops.{Aggregates, Joins}
import graft.pipeline.MoodPipeline

/** Streaming composition of the flagship mood dataflow (reference:
  * jobs/spark_mood_tracker.py end-to-end, §2.9 semantics inventory).
  *
  * Both strategies stream [[perKeyMinutes]], one stateful aggregate over
  * the three tagged inputs, and produce the reference's output schema:
  *
  *  1. [[aggregatedJoined]] — the full streaming chain in append mode: a
  *     second, per-minute aggregate gathers each minute's traffic rows with
  *     its weather and news, then explode → classify. Two stateful
  *     operators, no stream-stream join; the result equals the left joins
  *     of [[graft.pipeline.MoodPipeline.run]]. Every key of a minute closes
  *     under the shared (min-of-inputs) 1-minute watermark, so the second
  *     layer receives, emits and evicts a minute in the same micro-batch
  *     (chained stateful operators need Spark ≥3.4, SURVEY.md §7 risk #1).
  *     State per open minute: ≤ intersections + 2 rows in layer 1, one row
  *     in layer 2.
  *
  *  2. [[foreachBatchAligned]] — reference-faithful fallback: each
  *     micro-batch's completed per-key rows are split by side, aligned +
  *     classified with a BATCH join inside foreachBatch (what the
  *     reference's sink-side flow effectively does, minus its driver-side
  *     toPandas collect — ours stays distributed).
  *
  * Unlike the reference, every writer REQUIRES a checkpoint location
  * (the reference configures none and silently loses state on restart —
  * BASELINE.md "checkpointing: none").
  */
object MoodStream {

  /** Watermarked per-minute aggregates of the three parsed streams as one
    * frame `(event_time, side, intersection, v, label)`: `side` is "t"
    * (v = avg speed per intersection), "w" (v = avg temp, label = weather)
    * or "n" (label = sentiment). `side` stays in the key, so null-
    * intersection traffic never merges with weather. Inputs carry
    * `timestamp` (+ traffic: intersection, speed; weather: temp, weather;
    * news: sentiment).
    */
  private def perKeyMinutes(
      traffic: DataFrame,
      weather: DataFrame,
      news: DataFrame,
      watermark: String = "1 minute"): DataFrame = {
    def tagged(df: DataFrame, side: String, intersection: Column, v: Column, label: Column) =
      MoodPipeline.withEventTime(df).withWatermark("event_time", watermark)
        .select(lit(side).as("side"), col("event_time"),
          intersection.cast("string").as("intersection"),
          v.cast("double").as("v"), label.cast("string").as("label"))
    tagged(traffic, "t", col("intersection"), col("speed"), lit(null))
      .unionAll(tagged(weather, "w", lit(null), col("temp"), col("weather")))
      .unionAll(tagged(news, "n", lit(null), lit(null), col("sentiment")))
      .groupBy("event_time", "side", "intersection")
      .agg(Aggregates.exactAvg(col("v")).as("v"), first(col("label")).as("label"))
  }

  /** Strategy 1: full streaming chain (per-key agg → per-minute agg →
    * explode → classify).
    */
  def aggregatedJoined(
      traffic: DataFrame,
      weather: DataFrame,
      news: DataFrame,
      watermark: String = "1 minute"): DataFrame = {
    def of(side: String, c: Column): Column = when(col("side") === side, c)
    val minutes = perKeyMinutes(traffic, weather, news, watermark)
      .groupBy("event_time")
      .agg(
        collect_list(of("t", struct(col("intersection"), col("v").as("avg_speed")))).as("t"),
        // at most one "w" and one "n" row per minute: max just picks it
        max(of("w", col("v"))).as("avg_temp"),
        max(of("w", col("label"))).as("weather"),
        max(of("n", col("label"))).as("sentiment"))
    // a minute without traffic has an empty list and emits nothing, as in
    // the left joins
    MoodPipeline.classifyAligned(minutes.select(col("event_time"), inline(col("t")),
        col("avg_temp"), col("weather"), col("sentiment")))
      .select("event_time", "intersection", "avg_speed", "avg_temp",
        "weather", "sentiment", "mood")
  }

  /** Strategy 2: stream the per-key aggregate, split it by side, align +
    * classify per micro-batch via a batch join (distributed, never
    * collected), hand the classified frame to `sink`.
    *
    * One streaming query (one checkpoint, one trigger) carries all three
    * inputs — the reference needed two separate queries for the same
    * split (jobs/spark_news_consumer.py:39-58 double-read).
    */
  def foreachBatchAligned(
      traffic: DataFrame,
      weather: DataFrame,
      news: DataFrame,
      checkpoint: String,
      watermark: String = "1 minute")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    perKeyMinutes(traffic, weather, news, watermark).writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        def side(s: String, cols: Column*) = batch.filter(col("side") === s).select(cols: _*)
        val t = side("t", col("event_time"), col("intersection"), col("v").as("avg_speed"))
        val w = side("w", col("event_time"), col("v").as("avg_temp"), col("label").as("weather"))
        val n = side("n", col("event_time"), col("label").as("sentiment"))
        val aligned = MoodPipeline.classifyAligned(Joins.alignMinutes(t, w, n))
          .select("event_time", "intersection", "avg_speed", "avg_temp",
            "weather", "sentiment", "mood")
        sink(aligned, batchId)
      }

  /** Start strategy 1 into a parquet append sink (checkpointed). */
  def startToParquet(
      classified: DataFrame,
      path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    classified.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .start()
}
