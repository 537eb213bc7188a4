package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.io._
import graft.model.{Schemas, Vocab}
import graft.pipeline.{Backfill, ExportPipeline, SummaryPipeline}

class SourcesAndBackfillSpec extends SparkSpec {

  test("KafkaEventSource compiles against stock Spark; missing connector fails cleanly") {
    val src = new KafkaEventSource("broker:9092", "traffic")
    val e = intercept[Exception] { src.batch(spark, Schemas.traffic) }
    assert(e.getMessage.toLowerCase.contains("kafka")) // DATA_SOURCE_NOT_FOUND,
    // i.e. wiring is correct and live ingestion is a connector-jar drop away
    val e2 = intercept[Exception] { src.stream(spark, Schemas.traffic) }
    assert(e2.getMessage.toLowerCase.contains("kafka"))
  }

  test("BatchSource seam: parquet fixture stands in for the JDBC read") {
    val dir = tmpDir("graft_src")
    import spark.implicits._
    Seq(
      ("2024-03-05 10:00:00", "komitas", 42.0, 11.0, "clear", "neutral", "relaxed"),
      ("2024-03-06 10:00:00", "komitas", 30.0, 9.0, "fog", "negative", "tense"))
      .toDF("event_time", "intersection", "avg_speed", "avg_temp", "weather",
        "sentiment", "mood")
      .withColumn("event_time", to_timestamp(col("event_time")))
      .write.mode("overwrite").parquet(s"$dir/mood")
    val viaTrait: BatchSource = new ParquetSource(s"$dir/mood")
    val summary = SummaryPipeline.daily(spark, viaTrait, LocalDate.of(2024, 3, 5))
      .collect()
    assert(summary.length == 1)
    assert(summary.head.getAs[Long]("records_count") == 1L)
  }

  test("backfill: deterministic, bounded per-day counts, drifted raw shape") {
    val end = LocalDate.of(2024, 3, 10)
    val a = Backfill.generate(spark, end, days = 7, seed = 7L)
    val b = Backfill.generate(spark, end, days = 7, seed = 7L)
    assert(a.collect().toSeq == b.collect().toSeq) // bit-for-bit reproducible
    val perDay = a.groupBy(to_date(col("event_time")).as("d")).count().collect()
    assert(perDay.length == 7)
    perDay.foreach(r => assert(r.getAs[Long]("count") >= 10 && r.getAs[Long]("count") <= 50))
    // the RAW shape reproduces the reference's drift: int temps, 3-label moods
    assert(a.schema("avg_temp").dataType.typeName == "integer")
    val moods = a.select("mood").distinct().collect().map(_.getString(0)).toSet
    assert(moods.subsetOf(Vocab.BackfillMoodMap.values.toSet))
    // mood is the sentiment-mapped label, row by row
    assert(a.filter(col("mood") =!=
      element_at(typedLit(Vocab.BackfillMoodMap), col("sentiment"))).count() == 0)
  }

  /** Per-day counts plus an order-independent hash of every row (the
    * wrapping sum of per-row xxhash64s, taken in the suite's UTC session).
    */
  private def pin(df: org.apache.spark.sql.DataFrame): (Seq[(String, Long)], Long) = {
    val perDay = df.groupBy(to_date(col("event_time")).cast("string").as("d")).count()
      .orderBy("d").collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val hash = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*)).collect()
      .map(_.getLong(0)).sum
    (perDay, hash)
  }

  test("backfill golden pins: per-day counts and row hash stay bit-for-bit") {
    // captured from a one-range-per-day generator: slicing the rows
    // differently must not move a single value
    val short = Backfill.generate(spark, LocalDate.of(2024, 3, 10), days = 7, seed = 7L)
    assert(pin(short) == (Seq("2024-03-04" -> 31L, "2024-03-05" -> 47L,
      "2024-03-06" -> 27L, "2024-03-07" -> 32L, "2024-03-08" -> 32L,
      "2024-03-09" -> 33L, "2024-03-10" -> 28L), 2635456326257555146L))
    val wide = Backfill.generate(spark, LocalDate.of(2025, 6, 20), 5, 5000, 5000, 7L)
    assert(pin(wide) == ((16 to 20).map(d => s"2025-06-$d" -> 5000L), 8299248919733032449L))
    // the driver-side count is the written table's row count
    val dir = tmpDir("graft_bf_pin")
    val n = Backfill.run(spark, new ParquetSink(s"$dir/mood"),
      LocalDate.of(2024, 3, 10), days = 7, seed = 7L)
    assert(n == 230 && spark.read.parquet(s"$dir/mood").count() == n)
  }

  test("backfill runs through the standard sink path with the canonical schema") {
    val dir = tmpDir("graft_bf")
    val n = Backfill.run(spark, new ParquetSink(s"$dir/mood"),
      LocalDate.of(2024, 3, 10), days = 3, seed = 1L)
    val back = spark.read.parquet(s"$dir/mood")
    assert(back.count() == n && n > 0)
    assert(back.schema("avg_temp").dataType.typeName == "double") // canonicalized
    assert(graft.ops.Validate.validMood(back).count() == n)
  }

  test("export of an empty frame creates an empty file, not a failure (reference parity)") {
    // reference: test_export_creates_empty_file_when_no_data — the EXPORT
    // step tolerates empty data (the quality gate is a separate tier)
    val dir = tmpDir("graft_empty")
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    new NdjsonSink(s"$dir/export").write(empty)
    assert(new java.io.File(s"$dir/export").exists())
    assert(spark.read.schema(empty.schema).json(s"$dir/export").count() == 0)
  }

  test("sinks dispatch on the path URI scheme (K5: s3a:// is the same call)") {
    val dir = tmpDir("graft_uri")
    val uri = s"file://$dir/export" // explicit scheme, as s3a:// would be
    import spark.implicits._
    new NdjsonSink(uri).write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val back = spark.read.json(uri)
    assert(back.count() == 2)
    assert(Sinks.truncatePath(spark, uri)) // K6 cleanup across schemes too
    assert(!new java.io.File(s"$dir/export").exists())
  }

  test("K5 s3a:// dispatch reaches the Hadoop FS registry (jar-drop away, no network)") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    // file:// resolves to the local implementation — the driven scheme
    assert(new Path(s"file://${tmpDir("graft_fs")}").getFileSystem(conf)
      .isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
    // s3a:// reaches the same registry lookup; with hadoop-aws absent it
    // fails AT THE SCHEME TABLE (`No FileSystem for scheme "s3a"`), not
    // in our code — the path to production is dropping the jar, not a
    // code change
    val e = intercept[Exception] {
      new Path("s3a://bucket/exports/x").getFileSystem(conf)
    }
    assert(e.getMessage.toLowerCase.contains("s3a"), e.getMessage)
    // and the registry honors fs.<scheme>.impl: pointing s3a at a class
    // name proves the config seam hadoop-aws plugs into (the lookup now
    // fails on CLASS resolution, not on the scheme)
    val conf2 = new org.apache.hadoop.conf.Configuration(conf)
    conf2.set("fs.s3a.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem")
    val e2 = intercept[Exception] {
      new Path("s3a://bucket/exports/x").getFileSystem(conf2)
    }
    assert(e2.getMessage.contains("S3AFileSystem") ||
      Option(e2.getCause).exists(_.getMessage.contains("S3AFileSystem")),
      s"expected class-resolution failure, got: ${e2.getMessage}")
  }

  test("schema-drift union ingest: stream + backfill rows through one loadNdjson") {
    val dir = java.nio.file.Paths.get(tmpDir("graft_drift"))
    // stream variant: double temp, 7-label mood; backfill variant: int temp,
    // 3-label mood (SURVEY §1.3) — same NDJSON table
    val lines = Seq(
      """{"event_time":"2024-03-05 10:00:00","intersection":"komitas","avg_speed":42.5,"avg_temp":11.5,"weather":"clear","sentiment":"neutral","mood":"slowed_but_chill"}""",
      """{"event_time":"2024-03-05 11:00:00","intersection":"kentron","avg_speed":33.0,"avg_temp":7,"weather":"rain","sentiment":"positive","mood":"happy"}""")
    Files.write(dir.resolve("mood.json"), String.join("\n", lines: _*).getBytes)
    val out = tmpDir("graft_drift_out")
    val res = ExportPipeline.loadNdjson(spark, dir.toString, new ParquetSink(s"$out/t"))
    assert(res.read == 2 && res.written == 2)
    val back = spark.read.parquet(s"$out/t")
    assert(back.schema("avg_temp").dataType.typeName == "double")
    val moods = back.select("mood").collect().map(_.getString(0)).toSet
    assert(moods == Set("slowed_but_chill", "happy"))
    assert(moods.subsetOf(Vocab.AllMoods.toSet))
  }
}
