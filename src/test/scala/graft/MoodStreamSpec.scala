package graft

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.operators.stateful.{StateStoreSaveExec, StatefulOperator}
import org.apache.spark.sql.execution.streaming.operators.stateful.join.StreamingSymmetricHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.OutputMode

import graft.model.{NewsEvent, TrafficEvent, WeatherEvent}
import graft.pipeline.MoodPipeline
import graft.streaming.MoodStream

/** Streaming semantics of the flagship pipeline under MemoryStream —
  * watermark progression, append-mode emission, and the two-level
  * aggregation chain (SURVEY.md §7 risk #1).
  */
class MoodStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Some(Timestamp.valueOf(s))

  test("full streaming chain: per-key agg → per-minute agg → classify (append)") {
    implicit val ctx = spark.sqlContext
    val traffic = MemoryStream[TrafficEvent]
    val weather = MemoryStream[WeatherEvent]
    val news = MemoryStream[NewsEvent]

    val classified = MoodStream.aggregatedJoined(
      traffic.toDF(), weather.toDF(), news.toDF())

    val q = classified.writeStream
      .format("memory").queryName("mood_chain")
      .option("checkpointLocation", tmpDir("chain-ckpt"))
      .outputMode(OutputMode.Append)
      .start()
    try {
      traffic.addData(
        TrafficEvent("komitas", "veh-1", Some(80.0), ts("2025-04-19 16:10:10")),
        TrafficEvent("komitas", "veh-2", Some(90.0), ts("2025-04-19 16:10:40")))
      weather.addData(WeatherEvent(ts("2025-04-19 16:10:20"), Some(15.0), Some(3.0), "clear"))
      news.addData(NewsEvent(ts("2025-04-19 16:10:30"), "Sunny festival", "positive"))
      q.processAllAvailable()

      // advance event time far enough for the watermark to close minute 16:10:
      // the watermark is the min over the three inputs, set at the end of a
      // micro-batch, and both aggregation layers emit the minute in the next
      var minute = 20
      var rows = Array.empty[org.apache.spark.sql.Row]
      while (rows.isEmpty && minute < 28) {
        traffic.addData(TrafficEvent("komitas", "veh-9", Some(50.0),
          ts(f"2025-04-19 16:$minute%02d:00")))
        weather.addData(WeatherEvent(ts(f"2025-04-19 16:$minute%02d:00"),
          Some(10.0), Some(1.0), "fog"))
        news.addData(NewsEvent(ts(f"2025-04-19 16:$minute%02d:00"), "x", "neutral"))
        q.processAllAvailable()
        rows = spark.table("mood_chain")
          .filter($"event_time" === Timestamp.valueOf("2025-04-19 16:10:00"))
          .collect()
        minute += 2
      }
      assert(rows.nonEmpty, "minute 16:10 never emitted from the streaming chain")
      val r = rows.head
      assert(r.getAs[String]("intersection") == "komitas")
      assert(r.getAs[Double]("avg_speed") == 85.0)
      assert(r.getAs[String]("weather") == "clear")
      assert(r.getAs[String]("mood") == "relaxed")
    } finally q.stop()
  }

  test("left-outer null emission: traffic-only minute emits mood='unknown' " +
    "after watermark close (Trigger.AvailableNow)") {
    implicit val ctx = spark.sqlContext
    val traffic = MemoryStream[TrafficEvent]
    val weather = MemoryStream[WeatherEvent]
    val news = MemoryStream[NewsEvent]

    val classified = MoodStream.aggregatedJoined(
      traffic.toDF(), weather.toDF(), news.toDF())
    val ckpt = tmpDir("lo-ckpt")
    val out = tmpDir("lo-out")

    // the probe minute gets ONLY traffic — weather/news never cover 16:10,
    // so its row can only come from the join's null-padded left-outer side
    traffic.addData(
      TrafficEvent("baghramyan", "veh-1", Some(42.0), ts("2025-04-19 16:10:15")))

    // each AvailableNow run drains everything added so far, commits the
    // watermark into the checkpoint, and terminates; the next run resumes
    // from it (file sinks support recovery; memory sinks don't) — null
    // emission needs a batch where the watermark has passed the join
    // window, hence the restart loop
    def runOnce(): Unit = {
      val q = MoodStream.startToParquet(classified, out, ckpt,
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
    }
    def emitted(): Array[org.apache.spark.sql.Row] =
      spark.read.parquet(out)
        .filter($"event_time" === Timestamp.valueOf("2025-04-19 16:10:00"))
        .collect()
    runOnce()

    var minute = 20
    var rows = Array.empty[org.apache.spark.sql.Row]
    while (rows.isEmpty && minute < 34) {
      traffic.addData(TrafficEvent("baghramyan", "veh-9", Some(50.0),
        ts(f"2025-04-19 16:$minute%02d:00")))
      weather.addData(WeatherEvent(ts(f"2025-04-19 16:$minute%02d:00"),
        Some(10.0), Some(1.0), "fog"))
      news.addData(NewsEvent(ts(f"2025-04-19 16:$minute%02d:00"), "x", "neutral"))
      runOnce()
      rows = emitted()
      minute += 2
    }
    assert(rows.nonEmpty,
      "traffic-only minute 16:10 never null-emitted from the left-outer chain")
    val r = rows.head
    assert(r.getAs[String]("intersection") == "baghramyan")
    assert(r.getAs[Double]("avg_speed") == 42.0)
    assert(r.isNullAt(r.fieldIndex("avg_temp")), "weather side must be null-padded")
    assert(r.isNullAt(r.fieldIndex("weather")))
    assert(r.isNullAt(r.fieldIndex("sentiment")), "news side must be null-padded")
    assert(r.getAs[String]("mood") == "unknown")
  }

  test("stream vs batch: closed minutes equal MoodPipeline.run less the too-late row") {
    implicit val ctx = spark.sqlContext
    val traffic = MemoryStream[TrafficEvent]
    val weather = MemoryStream[WeatherEvent]
    val news = MemoryStream[NewsEvent]
    val q = MoodStream.aggregatedJoined(traffic.toDF(), weather.toDF(), news.toDF())
      .writeStream
      .format("memory").queryName("mood_vs_batch")
      .option("checkpointLocation", tmpDir("vs-batch-ckpt"))
      .outputMode(OutputMode.Append)
      .start()
    val sentT = ArrayBuffer.empty[TrafficEvent]
    val sentW = ArrayBuffer.empty[WeatherEvent]
    val sentN = ArrayBuffer.empty[NewsEvent]
    def send(t: Seq[TrafficEvent], w: Seq[WeatherEvent], n: Seq[NewsEvent]): Unit = {
      if (t.nonEmpty) { sentT ++= t; traffic.addData(t) }
      if (w.nonEmpty) { sentW ++= w; weather.addData(w) }
      if (n.nonEmpty) { sentN ++= n; news.addData(n) }
      q.processAllAvailable()
    }
    def tr(i: String, s: Option[Double], at: String) =
      TrafficEvent(i, "veh-1", s, ts(s"2025-04-19 $at"))
    def all(at: String) = (
      Seq(tr("komitas", Some(60.0), at)),
      Seq(WeatherEvent(ts(s"2025-04-19 $at"), Some(10.0), Some(1.0), "fog")),
      Seq(NewsEvent(ts(s"2025-04-19 $at"), "x", "neutral")))
    try {
      send(
        Seq(
          // 16:10: full minute, with a null intersection and a null speed
          tr("komitas", Some(80.0), "16:10:10"), tr("komitas", Some(91.5), "16:10:40"),
          tr(null, Some(30.0), "16:10:20"), tr("sayat-nova", None, "16:10:30"),
          // 16:11: traffic only
          tr("baghramyan", Some(42.0), "16:11:15"),
          // 16:12: no news; its rows arrive out of order
          tr("komitas", Some(20.0), "16:12:50")),
        Seq(WeatherEvent(ts("2025-04-19 16:10:20"), Some(15.0), Some(3.0), "clear"),
          WeatherEvent(ts("2025-04-19 16:12:05"), None, Some(3.0), "rain_heavy")),
        Seq(NewsEvent(ts("2025-04-19 16:10:30"), "Sunny festival", "positive")))
      send(Seq(tr("komitas", Some(33.0), "16:12:05"), tr("komitas", Some(25.5), "16:12:30")),
        Nil, Nil)
      val (t15, w15, n15) = all("16:15:00")
      send(t15, w15, n15)
      // the watermark now stands at 16:14: this row is too late for 16:10
      val late = tr("komitas", Some(5.0), "16:10:50")
      traffic.addData(late)
      q.processAllAvailable()
      val (t20, w20, n20) = all("16:20:00")
      send(t20, w20, n20)

      val watermark = Timestamp.from(java.time.Instant.parse(q.lastProgress.eventTime.get("watermark")))
      assert(!watermark.before(Timestamp.valueOf("2025-04-19 16:15:00")),
        s"watermark $watermark never closed the probe minutes")
      def rows(df: DataFrame): Seq[String] =
        df.filter($"event_time" <= watermark).collect().map(_.mkString("|")).toSeq.sorted
      val expected = rows(MoodPipeline.run(sentT.toSeq.toDF(), sentW.toSeq.toDF(), sentN.toSeq.toDF()))
      val actual = rows(spark.table("mood_vs_batch"))
      // 16:10 ×3, 16:11, 16:12 and 16:15; 16:20 is still open
      assert(expected.size == 6, expected.mkString("\n"))
      assert(actual == expected)
      assert(q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum > 0,
        "the too-late row never reached the engine")
    } finally q.stop()
  }

  test("plan shape: two state-store aggregates, no stream-stream join") {
    implicit val ctx = spark.sqlContext
    val traffic = MemoryStream[TrafficEvent]
    val weather = MemoryStream[WeatherEvent]
    val news = MemoryStream[NewsEvent]
    val q = MoodStream.aggregatedJoined(traffic.toDF(), weather.toDF(), news.toDF())
      .writeStream
      .format("memory").queryName("mood_plan")
      .option("checkpointLocation", tmpDir("plan-ckpt"))
      .outputMode(OutputMode.Append)
      .start()
    try {
      traffic.addData(TrafficEvent("komitas", "veh-1", Some(80.0), ts("2025-04-19 16:10:10")))
      weather.addData(WeatherEvent(ts("2025-04-19 16:10:20"), Some(15.0), Some(3.0), "clear"))
      news.addData(NewsEvent(ts("2025-04-19 16:10:30"), "x", "neutral"))
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(plan.collect { case s: StatefulOperator => s }.nonEmpty,
        s"no stateful operator in the executed plan:\n$plan")
      assert(plan.collect { case s: StateStoreSaveExec => s }.size == 2, plan.toString)
      assert(plan.collect { case j: StreamingSymmetricHashJoinExec => j }.isEmpty, plan.toString)
    } finally q.stop()
  }
}
