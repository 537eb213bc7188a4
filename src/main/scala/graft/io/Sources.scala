package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.ops.Parse

/** Source abstraction (SURVEY.md §7 module 4): pipelines are parameterized
  * by a Source so tests run hermetically on files/memory while production
  * wires Kafka — the reference hard-codes
  * `readStream.format("kafka").option("subscribe", topic)` in every job
  * (jobs/spark_mood_tracker.py:28-33); we invert that dependency.
  *
  * A Kafka implementation is a drop-in (`format("kafka")` + Parse.ingest on
  * `value`) but is NOT compiled here: the spark-sql-kafka connector jar is
  * deliberately absent from this hermetic build (zero-egress).
  */
trait EventSource {
  /** Streaming frame of parsed events with the given schema. */
  def stream(spark: SparkSession, schema: StructType): DataFrame
  /** Batch frame with the same contents (for backfill / tests / oracle). */
  def batch(spark: SparkSession, schema: StructType): DataFrame
}

/** NDJSON event files (one JSON object per line, like a Kafka topic dump).
  *
  * `maxFilesPerTrigger` is the file-source backpressure knob — the first
  * thing a real deployment reaches for when a restart faces a large
  * backlog: without it the recovery micro-batch swallows the whole
  * backlog at once (state spike, straggler batch); with it the backlog
  * drains in bounded increments and `Trigger.AvailableNow` still
  * terminates when caught up. Result parity across batch sizes is pinned
  * by StreamBackpressureSpec.
  */
final class JsonFileSource(path: String, maxFilesPerTrigger: Option[Int] = None)
    extends EventSource {
  def stream(spark: SparkSession, schema: StructType): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.json(path)
  }
  def batch(spark: SparkSession, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
}

/** S1 — the reference's sole ingress: `readStream.format("kafka")` on a
  * topic, JSON value parsed against a declared schema
  * (jobs/spark_mood_tracker.py:28-37; consumers `:17-26`). Compiles against
  * stock Spark — `format("kafka")` resolves the connector at RUNTIME, so
  * this is a jar-drop away from live: put `spark-sql-kafka-0-10` on the
  * classpath and construct with the broker list. Without the jar, calling
  * `stream`/`batch` raises Spark's DATA_SOURCE_NOT_FOUND (tested).
  */
final class KafkaEventSource(
    bootstrapServers: String,
    topic: String,
    startingOffsets: String = "latest",
    maxOffsetsPerTrigger: Option[Long] = None) extends EventSource {
  private def opts = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "subscribe" -> topic)
  def stream(spark: SparkSession, schema: StructType): DataFrame = {
    val r = spark.readStream.format("kafka").options(opts)
      .option("startingOffsets", startingOffsets)
    // Kafka's backpressure knob (the offset-count analog of the file
    // source's maxFilesPerTrigger): bounds each micro-batch, so a restart
    // against a deep topic backlog drains in increments
    maxOffsetsPerTrigger.foreach(n => r.option("maxOffsetsPerTrigger", n))
    Parse.ingest(r.load(), schema)
  }
  /** Batch replay of the topic (always from earliest — the batch path is
    * for backfill/oracle use, not tail-following).
    */
  def batch(spark: SparkSession, schema: StructType): DataFrame =
    Parse.ingest(
      spark.read.format("kafka").options(opts)
        .option("startingOffsets", "earliest").load(),
      schema)
}

/** Batch-source seam (S3 — the reference's JDBC READ:
  * daily_summary_report.py:24-31 loads Postgres `mood_events`). Pipelines
  * take a BatchSource so tests run on parquet/NDJSON fixtures while
  * production wires JDBC — the write-side mirror of `BatchSink`.
  */
trait BatchSource {
  def read(spark: SparkSession): DataFrame
}

/** S3 — JDBC batch read (Postgres in the reference, any JDBC target here).
  * Spark's built-in partitioned JDBC reader; pass `partitionColumn/
  * lowerBound/upperBound/numPartitions` in `props` for a parallel scan
  * (unpartitioned JDBC reads are single-connection — a scale foot-gun).
  * Driven end-to-end in JdbcRoundTripSpec through embedded Derby (plain
  * and partitioned scans); no NETWORKED database exists in this build, so
  * fixtures stand in for Postgres itself.
  */
final class JdbcSource(url: String, table: String, props: java.util.Properties)
    extends BatchSource {
  def read(spark: SparkSession): DataFrame = spark.read.jdbc(url, table, props)
}

/** Parquet table as a BatchSource (tests, and the engine's own tables). */
final class ParquetSource(path: String) extends BatchSource {
  def read(spark: SparkSession): DataFrame = spark.read.parquet(path)
}
