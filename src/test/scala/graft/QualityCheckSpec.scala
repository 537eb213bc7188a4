package graft

import graft.ops.Validate
import graft.pipeline.QualityCheck

class QualityCheckSpec extends SparkSpec {
  import spark.implicits._

  private def moodDf(rows: Seq[(Option[String], Option[String], Option[String], Option[Double])]) =
    rows.toDF("event_time_s", "intersection", "weather", "avg_speed")
      .selectExpr("to_timestamp(event_time_s) AS event_time", "intersection",
        "weather", "avg_speed")

  test("quality gate passes clean data and runs the export exactly once") {
    val clean = moodDf(Seq(
      (Some("2025-04-19 16:10:00"), Some("komitas"), Some("clear"), Some(42.0))))
    var exports = 0
    val report = QualityCheck.gateAndExport(clean,
      Seq("event_time", "intersection", "weather")) { exports += 1 }
    assert(report == QualityCheck.Report(1, 0, 0, passed = true))
    assert(exports == 1)
  }

  test("quality gate fails on missing fields / invalid rows / empty input and blocks export") {
    val dirty = moodDf(Seq(
      (Some("2025-04-19 16:10:00"), Some("komitas"), None, Some(42.0)),
      (Some("2025-04-19 16:11:00"), Some("komitas"), Some("clear"), Some(-1.0))))
    var exports = 0
    val report = QualityCheck.gateAndExport(dirty,
      Seq("event_time", "intersection", "weather")) { exports += 1 }
    assert(!report.passed && report.missingRequired == 1 && report.invalid == 2)
    assert(exports == 0)
    val empty = QualityCheck.run(moodDf(Seq.empty), Seq("event_time"))
    assert(!empty.passed && empty.total == 0)
  }

  test("one validity rule: the gate's invalid count is the rows validMood drops") {
    val df = moodDf(Seq(
      (Some("2025-04-19 16:10:00"), Some("komitas"), Some("clear"), Some(42.0)),
      (None, Some("komitas"), Some("clear"), Some(42.0)),                        // no event_time
      (Some("2025-04-19 16:12:00"), None, Some("clear"), Some(42.0)),            // no intersection
      (Some("2025-04-19 16:13:00"), Some("komitas"), None, Some(42.0)),          // no weather
      (Some("2025-04-19 16:14:00"), Some("komitas"), Some("clear"), Some(0.0)),  // speed not > 0
      (Some("2025-04-19 16:15:00"), Some("komitas"), Some("clear"), None)))      // no speed
    val report = QualityCheck.run(df, Seq("event_time"))
    assert(report.total == 6 && report.invalid == 5)
    assert(report.invalid == report.total - Validate.validMood(df).count())
  }
}
