package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.io.{BatchSink, ParquetSink}
import graft.pipeline.ExportPipeline

class ExportPipelineSpec extends SparkSpec {
  import spark.implicits._

  private class CollectSink extends BatchSink {
    val rows = ArrayBuffer.empty[org.apache.spark.sql.Row]
    def write(df: DataFrame): Unit = { rows ++= df.collect(); () }
  }

  test("export: corrupt + invalid rows dropped, counts from one cached read") {
    val raw = Seq(
      // valid (the reference's canonical komitas fixture)
      ("2025-04-19 16:10:00", "komitas", 42.0, "clear", null: String),
      // negative speed → invalid
      ("2025-04-19 16:11:00", "komitas", -5.0, "clear", null: String),
      // null weather → invalid
      ("2025-04-19 16:12:00", "komitas", 42.0, null: String, null: String),
      // corrupt source line
      ("2025-04-19 16:13:00", "komitas", 42.0, "clear", "raw garbage")
    ).toDF("event_time", "intersection", "avg_speed", "weather", "_corrupt_record")
    val sink = new CollectSink
    val res = ExportPipeline.run(raw, sink)
    assert(res.read == 3) // corrupt dropped before the read-count
    assert(res.valid == 1 && res.written == 1)
    assert(sink.rows.map(_.getAs[String]("intersection")).toSeq == Seq("komitas"))
    assert(sink.rows.head.getAs[java.sql.Timestamp]("event_time") ==
      java.sql.Timestamp.valueOf("2025-04-19 16:10:00"))
  }

  test("export: empty input fails the quality gate") {
    val raw = Seq.empty[(String, String, Double, String)]
      .toDF("event_time", "intersection", "avg_speed", "weather")
    val sink = new CollectSink
    intercept[IllegalArgumentException] {
      ExportPipeline.run(raw, sink)
    }
  }

  /** Loads `lines` as one NDJSON file into a parquet table; returns the
    * result and the table path.
    */
  private def loadLines(lines: String*): (ExportPipeline.ExportResult, String) = {
    val in = Paths.get(tmpDir("graft_export_in"))
    Files.write(in.resolve("mood.json"), String.join("\n", lines: _*).getBytes)
    val table = s"${tmpDir("graft_export_out")}/t"
    (ExportPipeline.loadNdjson(spark, in.toString, new ParquetSink(table)), table)
  }

  private val ok =
    """{"event_time":"2025-06-20 10:00:00","intersection":"komitas","avg_speed":42.5,"avg_temp":11.5,"weather":"clear","sentiment":"neutral","mood":"relaxed"}"""
  private def line(extra: String) =
    s"""{"event_time":"2025-06-20 10:01:00","intersection":"kentron","weather":"rain","sentiment":"positive","mood":"happy",$extra}"""
  private val tableSchema = "struct<avg_speed:double,avg_temp:double,event_time:timestamp," +
    "intersection:string,mood:string,sentiment:string,weather:string>"

  // the expected read/valid/written are what an inferred-schema read gives
  // on the same lines; only the table schema differs (second test)
  test("export schema: declared read matches the inferred one on drifted input") {
    val (intTemp, t1) = loadLines(ok, line(""""avg_speed":30.0,"avg_temp":7"""))
    assert(intTemp == ExportPipeline.ExportResult(2, 2, 2))
    val back = spark.read.parquet(t1)
    assert(back.schema.simpleString == tableSchema)
    assert(back.filter("intersection = 'kentron'").head().getAs[Double]("avg_temp") == 7.0)

    val (garbage, _) = loadLines(ok, "this is not json")
    assert(garbage == ExportPipeline.ExportResult(1, 1, 1))

    // a mistyped number fails the cast (ANSI), as it did after inference,
    // and before anything is written
    val in = Paths.get(tmpDir("graft_export_bad"))
    Files.write(in.resolve("mood.json"),
      String.join("\n", ok, line(""""avg_speed":"fast","avg_temp":1.0""")).getBytes)
    val bad = s"${tmpDir("graft_export_bad_out")}/t"
    val e = intercept[NumberFormatException] {
      ExportPipeline.loadNdjson(spark, in.toString, new ParquetSink(bad))
    }
    assert(e.getMessage.contains("CAST_INVALID_INPUT"))
    assert(!Files.exists(Paths.get(bad)))
  }

  test("export schema: extra fields dropped, a missing field is a null column") {
    val (extra, t1) = loadLines(ok, line(""""avg_speed":30.0,"avg_temp":7.5,"extra":"x""""))
    assert(extra == ExportPipeline.ExportResult(2, 2, 2))
    assert(spark.read.parquet(t1).schema.simpleString == tableSchema) // no `extra`

    val noTemp = ok.replace(""""avg_temp":11.5,""", "")
    val (missing, t2) = loadLines(noTemp, line(""""avg_speed":12"""))
    assert(missing == ExportPipeline.ExportResult(2, 2, 2))
    val back = spark.read.parquet(t2)
    assert(back.schema.simpleString == tableSchema)
    assert(back.filter("avg_temp IS NULL").count() == 2)
  }
}
