package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}

import graft.model.{NewsEvent, TrafficEvent, WeatherEvent}
import graft.pipeline.MoodPipeline
import graft.streaming.MoodStream

/** `mood_stream`: an open loop into the paper's real-time path.
  *
  * One generator thread sends pre-built traffic, weather and news events
  * into three `MemoryStream`s on a fixed schedule, whatever the engine
  * does; `MoodStream.aggregatedJoined` consumes them into a checkpointed
  * `foreachBatch` sink. The offered traffic rate climbs `Ladder`; weather
  * and news arrive once a second each. Each event's latency runs from its
  * scheduled send to the commit of the micro-batch that consumed it
  * (`benchlib.event_latencies`).
  */
object MoodStreamBench {

  /** Offered traffic events/s: a 1 000-sensor city at 1 Hz, then 4x per
    * step. The base step takes the measured seconds less `UpperStepMs`
    * for each later step.
    */
  val Ladder: Seq[Int] = Seq(1000, 4000, 16000, 64000)
  val UpperStepMs = 500.0
  /** Event time runs this many times faster than wall time, so several
    * event-minutes close (and their state is evicted) in one run.
    */
  val EventSpeedup = 30
  /** The generator sends what fell due every `TickMs`. */
  val TickMs = 25
  val Intersections = 64
  val ZipfExponent = 1.1
  /** Traffic events stamped earlier inside their own event-minute. */
  val OutOfOrderShare = 0.05
  /** Traffic events stamped 20-25 event-minutes in the past: always
    * behind the 1-minute watermark, so the engine must drop them.
    */
  val TooLateShare = 0.01
  val TooLateMinutes = 20
  /** Event time of the priming batch; the measured window starts
    * `LeadMs` of event time later.
    */
  val EventEpochMs = 1750420800000L // 2025-06-20T12:00:00Z
  val LeadMs = 120000L

  private val Weathers = Seq("clear", "mainly_clear", "partly_cloudy", "overcast",
    "fog", "drizzle_light", "rain_slight", "rain_heavy", "snow_slight", "thunderstorm")
  private val Sentiments = Seq("positive", "neutral", "negative")
  private val Headlines = Seq("Road works on Mashtots avenue.", "Festival in Republic square.",
    "Accident reported near Tumanyan intersection.", "New bus lanes open.")

  /** One send: `rows` fall due at `dueMs` (offset from the window start);
    * row i was scheduled at `firstMs + i * gapMs`.
    */
  final case class Chunk[A](dueMs: Double, step: Int, firstMs: Double, gapMs: Double, rows: Array[A])

  final case class Plan(
      traffic: Array[Chunk[TrafficEvent]],
      weather: Array[Chunk[WeatherEvent]],
      news: Array[Chunk[NewsEvent]],
      steps: Seq[(Int, Double, Double)], // (rate, startMs, endMs) from the window start
      tooLate: Array[TrafficEvent],
      outOfOrder: Int,
      endEventMs: Long)

  /** Seeded inputs for `seconds` of schedule. Everything is built here,
    * before any timing starts.
    */
  final class Generator(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val zipfCdf: Array[Double] = {
      val w = (1 to Intersections).map(k => 1.0 / math.pow(k, ZipfExponent))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private val names = Array.tabulate(Intersections)(k => f"int-$k%02d")
    private val vehicles = Array.tabulate(9000)(k => s"veh-${1000 + k}")

    def intersection(): String = {
      val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
      names(math.min(if (i >= 0) i else -i - 1, Intersections - 1))
    }

    def traffic(ts: Long): TrafficEvent =
      TrafficEvent(intersection(), vehicles(rnd.nextInt(vehicles.length)),
        Some(math.round((10.0 + rnd.nextDouble() * 80.0) * 100) / 100.0),
        Some(new Timestamp(ts)))

    /** Weather and sentiment are constant inside an event-minute, because
      * the per-minute aggregates pick them with arrival-order `first()`.
      */
    private def minuteRnd(ts: Long, salt: Int) =
      new java.util.SplittableRandom(seed * 1000003L + (ts / 60000L) * 31L + salt)

    def weather(ts: Long): WeatherEvent = {
      val r = minuteRnd(ts, 1)
      WeatherEvent(Some(new Timestamp(ts)), Some(r.nextInt(-100, 350) / 10.0),
        Some(r.nextInt(0, 300) / 10.0), Weathers(r.nextInt(Weathers.size)))
    }

    def news(ts: Long): NewsEvent = {
      val r = minuteRnd(ts, 2)
      NewsEvent(Some(new Timestamp(ts)), Headlines(r.nextInt(Headlines.size)),
        Sentiments(r.nextInt(Sentiments.size)))
    }

    /** Event time of a send scheduled `offsetMs` into the window. */
    def eventMs(offsetMs: Double): Long =
      EventEpochMs + LeadMs + (offsetMs * EventSpeedup).toLong

    def plan(seconds: Int, ladder: Seq[Int] = Ladder): Plan = {
      val total = seconds * 1000.0
      val base = total - UpperStepMs * (ladder.size - 1)
      require(base >= 2000.0, s"$seconds s leave no room for the base step")
      val bounds = 0.0 +: ladder.indices.map(i => base + i * UpperStepMs)
      val steps = ladder.indices.map(s => (ladder(s), bounds(s), bounds(s + 1)))
      val trafficChunks = ArrayBuffer.empty[Chunk[TrafficEvent]]
      val tooLate = ArrayBuffer.empty[TrafficEvent]
      var outOfOrder = 0
      steps.zipWithIndex.foreach { case ((rate, start, end), s) =>
        val gap = 1000.0 / rate
        val n = ((end - start) / gap).toInt
        var j = 0
        while (j < n) {
          val tick = math.floor((start + j * gap) / TickMs).toLong
          val first = j
          val rows = ArrayBuffer.empty[TrafficEvent]
          while (j < n && math.floor((start + j * gap) / TickMs).toLong == tick) {
            val ts = eventMs(start + j * gap)
            val u = rnd.nextDouble()
            val e =
              if (u < TooLateShare)
                traffic(ts - TooLateMinutes * 60000L - rnd.nextLong(5 * 60000L))
              else if (u < TooLateShare + OutOfOrderShare) {
                outOfOrder += 1
                val minute = ts - ts % 60000L
                traffic(minute + rnd.nextLong(ts - minute + 1))
              } else traffic(ts)
            if (u < TooLateShare) tooLate += e
            rows += e
            j += 1
          }
          trafficChunks += Chunk((tick + 1) * TickMs.toDouble, s, start + first * gap, gap, rows.toArray)
        }
      }
      def stepOf(ms: Double) = steps.lastIndexWhere(_._2 <= ms)
      val seconds1 = (0 until seconds).map(_ * 1000.0)
      val weatherChunks = seconds1.map(m =>
        Chunk(m, stepOf(m), m, 0.0, Array(weather(eventMs(m))))).toArray
      val newsChunks = seconds1.map(m =>
        Chunk(m + 500.0, stepOf(m + 500.0), m + 500.0, 0.0, Array(news(eventMs(m + 500.0))))).toArray
      Plan(trafficChunks.toArray, weatherChunks, newsChunks, steps, tooLate.toArray, outOfOrder, eventMs(total))
    }
  }

  /** A started query over fresh sources, with everything sent into it. */
  final class Running(spark: SparkSession, ckpt: String) {
    import spark.implicits._
    private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val traffic = MemoryStream[TrafficEvent](Main.cpus)
    val weather = MemoryStream[WeatherEvent](Main.cpus)
    val news = MemoryStream[NewsEvent](Main.cpus)
    val sentTraffic = ArrayBuffer.empty[TrafficEvent]
    val sentWeather = ArrayBuffer.empty[WeatherEvent]
    val sentNews = ArrayBuffer.empty[NewsEvent]
    /** (batch id, row) for every row the sink received. */
    val emitted = new ConcurrentLinkedQueue[(Long, Row)]()

    val query: StreamingQuery =
      MoodStream.aggregatedJoined(traffic.toDF(), weather.toDF(), news.toDF())
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.collect().foreach(r => emitted.add((id, r)))
        }
        .start()

    def sendTraffic(rows: Array[TrafficEvent]): Long = {
      sentTraffic ++= rows; offset(traffic.addData(rows.toIndexedSeq: _*))
    }
    def sendWeather(rows: Array[WeatherEvent]): Long = {
      sentWeather ++= rows; offset(weather.addData(rows.toIndexedSeq: _*))
    }
    def sendNews(rows: Array[NewsEvent]): Long = {
      sentNews ++= rows; offset(news.addData(rows.toIndexedSeq: _*))
    }
    private def offset(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
      o.json().trim.toLong
  }

  /** Send one small batch of each stream at `eventMs` and wait for it. */
  def sendAndWait(r: Running, g: Generator, eventMs: Long, trafficRows: Int): Unit = {
    r.sendTraffic(Array.fill(trafficRows)(g.traffic(eventMs)))
    r.sendWeather(Array(g.weather(eventMs)))
    r.sendNews(Array(g.news(eventMs)))
    r.query.processAllAvailable()
  }

  /** Replays `plan` on its schedule from `startMs` (epoch). Returns, per
    * stream, one row per send: offset, first scheduled ms, gap ms, rows,
    * due ms, sent ms, step.
    */
  def replay(r: Running, plan: Plan, startMs: Double): Map[String, Seq[Seq[Double]]] = {
    val out = Map("traffic" -> ArrayBuffer.empty[Seq[Double]],
      "weather" -> ArrayBuffer.empty[Seq[Double]], "news" -> ArrayBuffer.empty[Seq[Double]])
    val sends: Seq[(Double, String, Int)] =
      (plan.traffic.indices.map(i => (plan.traffic(i).dueMs, "traffic", i)) ++
        plan.weather.indices.map(i => (plan.weather(i).dueMs, "weather", i)) ++
        plan.news.indices.map(i => (plan.news(i).dueMs, "news", i))).sortBy(_._1)
    sends.foreach { case (due, kind, i) =>
      val wait = Clock.nanosAt(startMs + due) - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val sent = Clock.now()
      val (c, off) = kind match {
        case "traffic" => (plan.traffic(i), r.sendTraffic(plan.traffic(i).rows))
        case "weather" => (plan.weather(i), r.sendWeather(plan.weather(i).rows))
        case _ => (plan.news(i), r.sendNews(plan.news(i).rows))
      }
      out(kind) += Seq(off.toDouble, startMs + c.firstMs, c.gapMs, c.rows.length.toDouble,
        startMs + due, sent, c.step.toDouble)
    }
    out.map { case (k, v) => k -> v.toSeq }
  }

  private def sourceName(description: String): String =
    if (description.contains("vehicle_id")) "traffic"
    else if (description.contains("windspeed")) "weather"
    else "news"

  /** One raw record per micro-batch, from its progress event. */
  def batches(ps: Seq[StreamingQueryProgress], emitted: Seq[(Long, Row)]): Seq[Map[String, Any]] = {
    val rowsOut = emitted.groupBy(_._1).map { case (id, rs) => id -> rs.size }
    ps.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ops = p.stateOperators.toSeq
      Map(
        "id" -> p.batchId,
        "start_ms" -> start,
        "commit_ms" -> (start + d.getOrElse("triggerExecution", 0L)),
        "duration_ms" -> d,
        "offsets" -> p.sources.map(s => sourceName(s.description) ->
          Seq(Option(s.startOffset).map(_.trim.toLong).getOrElse(-1L),
            Option(s.endOffset).map(_.trim.toLong).getOrElse(-1L))).toMap,
        "input_rows" -> p.numInputRows,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "dropped" -> ops.map(_.numRowsDroppedByWatermark).sum,
        "rows_out" -> rowsOut.getOrElse(p.batchId, 0))
    }
  }

  /** Record each micro-batch and its `durationMs` phases as spans, the
    * phases laid end to end in the order a micro-batch runs them.
    */
  def traceBatches(tracer: Tracer, parent: Int, bs: Seq[Map[String, Any]]): Unit =
    bs.foreach { b =>
      val start = b("start_ms").asInstanceOf[Double]
      val d = b("duration_ms").asInstanceOf[Map[String, Long]]
      val id = tracer.record(parent, "streaming.micro_batch", start, b("commit_ms").asInstanceOf[Double])
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val ms = d.getOrElse(k, 0L).toDouble
          tracer.record(id, s"streaming.$k", t, t + ms)
          t += ms
        }
    }

  /** Micro-batches run before the schedule starts: they set the
    * watermark and warm the JIT (fewer left the first measured batches
    * slower).
    */
  val PrimingBatches = 3

  /** Starts a query over fresh sources and primes it. */
  def startPrimed(spark: SparkSession, g: Generator, dir: java.nio.file.Path): Running = {
    val r = new Running(spark, dir.toString)
    (0 until PrimingBatches).foreach(k => sendAndWait(r, g, EventEpochMs + k * 20000L, 2000))
    r
  }

  /** The rows emitted by committed micro-batches against
    * `MoodPipeline.run` over every event sent, less the too-late ones, on
    * the minutes the last committed batch's watermark had closed.
    */
  def check(spark: SparkSession, r: Running, tooLate: Set[TrafficEvent],
      committed: Set[Long], closedMs: Long): (Boolean, String) = {
    import spark.implicits._
    val cutoff = new Timestamp(closedMs)
    val expected = MoodPipeline.run(
        r.sentTraffic.filterNot(tooLate).toSeq.toDF(),
        r.sentWeather.toSeq.toDF(), r.sentNews.toSeq.toDF())
      .filter(col("event_time") <= cutoff)
      .collect().map(_.mkString("|")).sorted.toSeq
    val actual = r.emitted.asScala.filter(e => committed(e._1))
      .map(_._2.mkString("|")).toSeq.sorted
    if (expected.nonEmpty && expected == actual)
      (true, s"${actual.size} rows match MoodPipeline.run up to $cutoff")
    else {
      val missing = expected.diff(actual)
      val extra = actual.diff(expected)
      (false, s"stream output differs from MoodPipeline.run up to $cutoff: expected " +
        s"${expected.size} rows, got ${actual.size}; missing ${missing.take(3).mkString("; ")}; " +
        s"unexpected ${extra.take(3).mkString("; ")}")
    }
  }

  /** Waits until no new micro-batch has reported for `quietMs`, so the
    * batch that only advances the watermark can finish before the stop.
    */
  def awaitQuiet(q: StreamingQuery, quietMs: Double = 1000.0): Unit = {
    def last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    var seen = last
    var since = Clock.now()
    while (Clock.now() - since < quietMs) {
      Thread.sleep(50)
      if (last != seen) { seen = last; since = Clock.now() }
    }
  }

  def run(a: Main.Args, tracer: Tracer): Map[String, Any] = {
    val spark = tracer.span("spark.session")(Main.session(a.workDir, Main.cpus, Main.cpus))
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val taskLog = if (a.trace) Some(new TaskLog) else None
    taskLog.foreach(spark.sparkContext.addSparkListener)
    val g = new Generator(a.seed)
    val plan = tracer.span("io.generate")(g.plan(a.seconds))
    val r = tracer.span("streaming.start")(startPrimed(spark, g, a.workDir.resolve("ckpt")))

    val startMs = Clock.now() + 20.0
    val (chunks, timedId) = {
      var sent: Map[String, Seq[Seq[Double]]] = Map.empty
      var id = -1
      tracer.span("mood_stream.timed") {
        id = tracer.current
        sent = tracer.span("io.generator")(replay(r, plan, startMs))
        tracer.span("streaming.drain")(r.query.processAllAvailable())
      }
      (sent, id)
    }
    val endMs = Clock.now()
    val error = r.query.exception.map(_.toString)

    // outside the timed window: stop, then check
    tracer.span("streaming.stop") {
      awaitQuiet(r.query)
      r.query.stop()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    }
    val ps = progress.of(r.query.runId)
    val bs = batches(ps, r.emitted.asScala.toSeq)
    traceBatches(tracer, timedId, bs.filter(b =>
      b("start_ms").asInstanceOf[Double] >= startMs && b("commit_ms").asInstanceOf[Double] <= endMs))
    val closedMs = ps.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(java.time.Instant.parse(_).toEpochMilli).foldLeft(0L)(math.max)
    val (ok, detail) = tracer.span("check")(
      check(spark, r, plan.tooLate.toSet, ps.map(_.batchId).toSet, closedMs))
    val spark1 = taskLog.map(_.summary(spark.sparkContext, startMs, endMs)).getOrElse(Map.empty)

    val local1 = if (a.trace) tracer.span("streaming.local1")(singleThread(a, g)) else Nil
    Map(
      "workload" -> a.workload,
      "timed_start_ms" -> startMs,
      "timed_end_ms" -> endMs,
      "check" -> Map("ok" -> (ok && error.isEmpty), "detail" -> error.getOrElse(detail)),
      "stream" -> Map(
        "steps" -> plan.steps.map { case (rate, s, e) =>
          Map("rate" -> rate, "start_ms" -> (startMs + s), "end_ms" -> (startMs + e)) },
        "chunks" -> chunks,
        "batches" -> bs,
        "too_late" -> plan.tooLate.length,
        "out_of_order" -> plan.outOfOrder,
        "local1_batch_ms" -> local1),
      "spark" -> spark1)
  }

  /** Traced runs only: the base step again on a `local[1]` session, as a
    * single-thread baseline. Returns its measured batch durations.
    */
  def singleThread(a: Main.Args, g: Generator): Seq[Double] = {
    SparkSession.getActiveSession.foreach(_.stop())
    val spark = Main.session(a.workDir, 1, Main.cpus)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val plan = g.plan(math.max(4, a.seconds - 2), Ladder.take(1))
    val r = startPrimed(spark, g, a.workDir.resolve("ckpt-local1"))
    val startMs = Clock.now() + 20.0
    replay(r, plan, startMs)
    r.query.processAllAvailable()
    r.query.stop()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    progress.of(r.query.runId).filter(p =>
        java.time.Instant.parse(p.timestamp).toEpochMilli >= startMs)
      .map(_.durationMs.get("triggerExecution").doubleValue)
  }
}
