package graft.io

import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC/WET reader — the CommonCrawl extracted-text ingestion format
  * (ISO 28500 record framing, `conversion` records as produced by the
  * WET pipeline): each record is `WARC/1.0\r\n` + header lines +
  * `\r\n\r\n` + payload, records separated by `\r\n\r\n`.
  *
  * Splitting strategy: Hadoop's `TextInputFormat` with
  * `textinputformat.record.delimiter = "\r\n\r\nWARC/1.0\r\n"` — the
  * line reader handles delimiters STRADDLING input-split boundaries, so
  * a multi-gigabyte .wet file fans out across tasks with no record ever
  * torn in two (the same mechanism as ordinary line splitting, with the
  * record head as the "newline"). Header/payload separation and header
  * fields are then pure column expressions on each record.
  *
  * Honest contract (the WET shape, not full WARC): payloads are TEXT
  * (no binary response records), and a payload that itself contains the
  * exact byte sequence `\r\n\r\nWARC/1.0\r\n` would split early — for
  * extracted text this cannot occur in well-formed WET output (the
  * writer escapes nothing because the extraction strips CR), and the
  * reader surfaces `length_ok = false` on any record whose payload
  * octet length disagrees with its `Content-Length` header, so a torn
  * record is VISIBLE, never silent. Production hardening beyond this
  * point (binary WARC, gzip members per record) needs a format-aware
  * InputFormat, not more string logic.
  */
object Wet {

  val RecordDelimiter = "\r\n\r\nWARC/1.0\r\n"

  // [ \t]* — NOT \s*, which would eat the CRLF of an EMPTY header value
  // and capture the next header line as this header's value
  private def header(rec: org.apache.spark.sql.Column, name: String) =
    regexp_extract(rec, s"(?i)$name:[ \\t]*([^\\r\\n]*)", 1)

  /** All-digits guard before the long cast — under ANSI mode a bare
    * `cast("long")` on a garbled header value (`Content-Length: abc`)
    * throws and aborts the read job; this degrades it to NULL.
    */
  private def digitsToLong(c: org.apache.spark.sql.Column) =
    when(c.rlike("^[0-9]{1,18}$"), c.cast("long"))

  /** Read .wet files under `path`: one row per WARC record —
    * (warc_type, target_uri, warc_date, content_length, payload,
    * length_ok). `content_length` is the header's claim (null when the
    * header is absent/garbled), `length_ok` compares it to the
    * payload's actual octet length.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", RecordDelimiter)
    val rdd = spark.sparkContext
      .newAPIHadoopFile(path, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .map { case (_, t) => t.toString }
    import spark.implicits._
    parseRecords(spark.createDataset(rdd).toDF("rec"), "rec")
  }

  /** STREAMING twin of [[read]]: the text file source with the record
    * head as `lineSep` — byte-for-byte the same framing as the batch
    * Hadoop reader (both run the delimiter through
    * HadoopFileLinesReader, so records still straddle split boundaries
    * safely and `.wet.gz` members stay transparent), plus the file
    * source's `maxFilesPerTrigger` backpressure. Feed the result to a
    * `foreachBatch` sink ([[graft.streaming.CurationStream]]).
    */
  def readStream(
      spark: SparkSession,
      path: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    parseRecords(
      spark.readStream
        .option("lineSep", RecordDelimiter)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .option("pathGlobFilter", "*.wet*")
        .text(path),
      "value")

  /** Record framing → columns, shared by the batch and streaming
    * readers: `recCol` holds one delimiter-framed record per row.
    */
  def parseRecords(raw: DataFrame, recCol: String): DataFrame = {
    // the FIRST record of each file keeps its "WARC/1.0\r\n" head (it
    // has no preceding delimiter); later records had it consumed
    val body = when(col(recCol).startsWith("WARC/1.0\r\n"),
      substring(col(recCol), 11, Int.MaxValue)).otherwise(col(recCol))
    // header block = up to the first blank line; payload = the rest.
    // The file's final record keeps its trailing record separator —
    // strip trailing CRLF runs (payloads are CR-free by the WET
    // contract, so this never eats content)
    // `get` (0-based), NOT `element_at`: under Spark 4's default ANSI
    // mode an out-of-bounds element_at THROWS, so one header-only
    // record (a truncated tail, a headers-without-payload failure log)
    // would abort the whole read job; get degrades it to a NULL
    // payload → empty string, a diagnosable row (length_ok = false)
    val parts = split(body, "\r\n\r\n", 2)
    val hdr = get(parts, lit(0))
    val payload = regexp_replace(
      coalesce(get(parts, lit(1)), lit("")), "(\\r\\n)+$", "")
    raw
      .select(hdr.as("hdr"), payload.as("payload"))
      .filter(col("hdr") =!= "") // a trailing separator yields an empty tail
      .select(
        header(col("hdr"), "WARC-Type").as("warc_type"),
        header(col("hdr"), "WARC-Target-URI").as("target_uri"),
        header(col("hdr"), "WARC-Date").as("warc_date"),
        digitsToLong(header(col("hdr"), "Content-Length"))
          .as("content_length"),
        col("payload"))
      .withColumn("length_ok",
        col("content_length").isNotNull &&
          octet_length(col("payload")) === col("content_length"))
  }

  /** Render documents as WET `conversion` records (the inverse of
    * [[read]], for round-trip gates/specs and for EXPORTING a curated
    * corpus back to the crawl interchange format): one record string
    * per row — `WARC/1.0` + Type/URI/Date/Content-Length headers + the
    * payload. Write with
    * `df.write.option("lineSep", Wet.RecordSeparator)` (text sink) or
    * join with [[RecordSeparator]].
    */
  val RecordSeparator = "\r\n\r\n"

  /** NULL text/uri coalesce to '' rather than nulling the whole record
    * through `concat`: one null document must yield a diagnosable
    * zero-length record (readable back, `length_ok = true`), never a
    * NULL `rec` row that aborts or silently skips a corpus export at
    * the text sink.
    */
  def toRecords(
      docs: DataFrame,
      textCol: String,
      uriCol: String,
      date: String = "2026-01-01T00:00:00Z"): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    docs.select(concat(
      lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
      coalesce(col(uriCol), lit("")),
      lit(s"\r\nWARC-Date: $date\r\nContent-Length: "),
      octet_length(text).cast("string"),
      lit("\r\n\r\n"),
      text).as("rec"))
  }

  // ------------------------------------------------------------------ //
  // WARC `response` records (the raw-fetch stage BEFORE the WET
  // extraction): WARC header block + CRLFCRLF + HTTP status line and
  // headers + CRLFCRLF + body. Same framing/splitting contract as the
  // conversion reader; same honest scope (TEXT bodies — binary WARC
  // needs a format-aware InputFormat, not more string logic).
  // ------------------------------------------------------------------ //

  /** Batch read of .warc response files — [[read]]'s framing, then
    * [[parseResponses]].
    */
  def readResponses(spark: SparkSession, path: String): DataFrame = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", RecordDelimiter)
    val rdd = spark.sparkContext
      .newAPIHadoopFile(path, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text], conf)
      .map { case (_, t) => t.toString }
    import spark.implicits._
    parseResponses(spark.createDataset(rdd).toDF("rec"), "rec")
  }

  /** HTTP-block header probe: LINE-anchored (`(?im)^`), unlike the
    * WARC [[header]] probe — HTTP headers collide on suffixes
    * (`Content-Location` vs `Location`), so a substring match would
    * misread one for the other.
    */
  private def httpHeader(block: org.apache.spark.sql.Column, name: String) =
    regexp_extract(block, s"(?im)^$name:[ \\t]*([^\\r\\n]*)", 1)

  /** Response-record framing → columns: (warc_type, target_uri,
    * status [NULL when the status line is unparseable], content_type
    * [lowercased, parameters after `;` stripped — `text/html;
    * charset=UTF-8` → `text/html`, NULL when absent], location [the
    * redirect target header, NULL when absent], body). A crawler's
    * fetch gate composes on these: keep `status = 200 ∧ content_type =
    * text/html`, feed 3xx locations to [[graft.operators.Redirects]].
    */
  def parseResponses(raw: DataFrame, recCol: String): DataFrame = {
    val body0 = when(col(recCol).startsWith("WARC/1.0\r\n"),
      substring(col(recCol), 11, Int.MaxValue)).otherwise(col(recCol))
    // `get`, not `element_at`: real WARC files interleave warcinfo/
    // request/metadata records with FEWER than three CRLFCRLF-separated
    // sections — exactly what the warc_type column exists to filter —
    // and under ANSI mode an out-of-bounds element_at would abort the
    // whole job on the first one; get degrades them to NULL/empty
    // columns. The body strip removes at most ONE trailing record-
    // separator remnant — a "(\r\n)+" strip would silently eat a
    // body's OWN legitimate trailing CRLFs, disagreeing with the
    // Content-Length the writer recorded; length_ok below makes any
    // residual disagreement visible instead of silent.
    val parts = split(body0, "\r\n\r\n", 3)
    val warcHdr = get(parts, lit(0))
    val httpHdr = coalesce(get(parts, lit(1)), lit(""))
    val payload = regexp_replace(
      coalesce(get(parts, lit(2)), lit("")), "\\r\\n\\r\\n$", "")
    raw
      .select(warcHdr.as("hdr"), httpHdr.as("http"), payload.as("body"))
      .filter(col("hdr") =!= "")
      .select(
        header(col("hdr"), "WARC-Type").as("warc_type"),
        header(col("hdr"), "WARC-Target-URI").as("target_uri"),
        expr("try_cast(regexp_extract(http, " +
          "'^HTTP/[0-9.]+[ \\\\t]+([0-9]{3})', 1) AS bigint)")
          .as("status"),
        nullif(lower(trim(regexp_extract(
          httpHeader(col("http"), "Content-Type"), "^([^;]*)", 1))),
          lit("")).as("content_type"),
        nullif(httpHeader(col("http"), "Location"), lit(""))
          .as("location"),
        col("body"),
        // WARC Content-Length covers the HTTP block + its CRLFCRLF
        // separator + the body (what toResponseRecords writes); a
        // missing/unparseable header reads false, not NULL
        coalesce(
          digitsToLong(header(col("hdr"), "Content-Length")) ===
            octet_length(col("http")) + lit(4) + octet_length(col("body")),
          lit(false)).as("length_ok"))
  }

  /** Render (uri, status line fields, body) as WARC `response` records
    * — the inverse of [[readResponses]] for round-trip gates and
    * fixture generation. NULL-safe like [[toRecords]]: a NULL body/uri
    * yields a diagnosable record, never a NULL row.
    */
  def toResponseRecords(
      docs: DataFrame,
      uriCol: String,
      statusCol: String,
      reasonCol: String,
      ctypeCol: String,
      locationCol: String,
      bodyCol: String,
      date: String = "2026-01-01T00:00:00Z"): DataFrame = {
    val body = coalesce(col(bodyCol), lit(""))
    // a NULL status (connection failure logged without a response)
    // renders an empty status field — the parse reads it back as
    // status NULL, a diagnosable row, never a NULL rec that kills the
    // export sink
    val http = concat(
      lit("HTTP/1.1 "),
      coalesce(col(statusCol).cast("string"), lit("")), lit(" "),
      coalesce(col(reasonCol), lit("")),
      lit("\r\nContent-Type: "), coalesce(col(ctypeCol), lit("")),
      when(col(locationCol).isNotNull,
        concat(lit("\r\nLocation: "), col(locationCol)))
        .otherwise(lit("")))
    val payload = concat(http, lit("\r\n\r\n"), body)
    docs.select(concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
      coalesce(col(uriCol), lit("")),
      lit(s"\r\nWARC-Date: $date\r\nContent-Length: "),
      octet_length(payload).cast("string"),
      lit("\r\n\r\n"),
      payload).as("rec"))
  }
}
